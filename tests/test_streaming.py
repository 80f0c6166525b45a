"""Streaming tests: batch-equivalence (streaming result == batch result on
the same data), watermark late-data drop, stateful dedup, and the custom
applyInPandasWithState operator."""

from __future__ import annotations

import shutil
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mare_spark import streaming as S
from mare_spark.tables import read_table
from tests.conftest import SF_SMOKE


@pytest.fixture()
def events_dir(spark, tmp_path):
    """A streaming landing dir seeded with the sf0.001 events file."""
    d = tmp_path / "landing"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "events_0.parquet")
    return str(d)


def _collect_stream(spark, stream_df, mode="append"):
    name = "t_" + uuid.uuid4().hex[:8]
    q = S.run_to_memory_sink(stream_df, name, mode)
    try:
        return spark.sql(f"SELECT * FROM {name}").toPandas()
    finally:
        q.stop()


def test_tumbling_batch_equivalence(spark, events_dir):
    stream = S.tumbling_counts(S.read_events_stream(spark, events_dir))
    # complete mode emits every window, including ones the watermark hasn't
    # closed yet — required for exact batch-equivalence comparison
    got = _collect_stream(spark, stream, mode="complete")

    batch = read_table(spark, SF_SMOKE, "events")
    want = (
        batch.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
        .toPandas()
    )
    key = ["window_start", "event_type"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_like=True)


def test_session_batch_equivalence(spark, events_dir):
    stream = S.session_aggregate(S.read_events_stream(spark, events_dir), gap="1 hour")
    got = _collect_stream(spark, stream, mode="complete")
    want = (
        read_table(spark, SF_SMOKE, "events")
        .groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total",
        )
        .toPandas()
    )
    key = ["session_start", "user_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_like=True,
    )


def test_watermark_drops_late_data(spark, tmp_path):
    """An event older than watermark + window, arriving in a later
    micro-batch after the watermark advanced, must be dropped."""
    d = tmp_path / "landing"
    d.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        # ts as ns-longs to match the fixture's raw schema
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("int64")
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage" / name)
        )
        src = [
            f for f in (tmp_path / "stage" / name).iterdir() if f.suffix == ".parquet"
        ][0]
        shutil.copy(src, d / f"{name}.parquet")

    name = "late_" + uuid.uuid4().hex[:6]
    write_batch(
        "b1",
        [
            (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
            (2, "2024-01-01 11:00:00", 1, "view", 1.0, "{}"),  # advances watermark
        ],
    )
    stream = S.tumbling_counts(
        S.read_events_stream(spark, str(d)), window="5 minutes", watermark="10 minutes"
    )
    q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    # a second file arrives with an event far behind the watermark (11:00 - 10min)
    write_batch("b2", [(3, "2024-01-01 10:00:01", 1, "view", 99.0, "{}")])
    q.processAllAvailable()
    # and a third on-time file to flush closable windows
    write_batch("b3", [(4, "2024-01-01 12:00:00", 1, "view", 1.0, "{}")])
    q.processAllAvailable()
    out = spark.sql(f"SELECT * FROM {name}").toPandas()
    q.stop()

    w1000 = out[out.window_start == pd.Timestamp("2024-01-01 10:00:00")]
    # the late event (value 99) must NOT be in the 10:00 window
    assert not w1000.empty
    assert float(w1000.iloc[0].total) == 1.0
    assert int(w1000.iloc[0].n) == 1


def test_stateful_dedup_within_watermark(spark, tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    pdf = pd.DataFrame(
        {
            "event_id": [1, 1, 2, 2, 3],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 10:00:00",
                    "2024-01-01 10:00:30",  # dup of 1 within watermark
                    "2024-01-01 10:01:00",
                    "2024-01-01 10:01:10",  # dup of 2
                    "2024-01-01 10:02:00",
                ]
            ).astype("int64"),
            "user_id": [1, 1, 2, 2, 3],
            "event_type": ["view"] * 5,
            "value": [1.0, 1.0, 2.0, 2.0, 3.0],
            "props": ["{}"] * 5,
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "stage")
    )
    src = [f for f in (tmp_path / "stage").iterdir() if f.suffix == ".parquet"][0]
    shutil.copy(src, d / "b1.parquet")

    deduped = S.stateful_dedup(S.read_events_stream(spark, str(d)), watermark="30 minutes")
    got = _collect_stream(spark, deduped)
    assert sorted(got.event_id.tolist()) == [1, 2, 3]


def test_running_user_totals_stateful(spark, events_dir):
    """applyInPandasWithState custom operator: final per-user totals match
    the batch aggregate."""
    stream = S.running_user_totals(S.read_events_stream(spark, events_dir))
    got = _collect_stream(spark, stream, mode="update")
    # last emission per user wins (update mode)
    final = got.groupby("user_id").last().reset_index()

    want = (
        read_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
        .toPandas()
    )
    key = "user_id"
    f = final.sort_values(key).reset_index(drop=True)[["user_id", "n_events", "total"]]
    w = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(f, w, check_like=True, check_dtype=False)


def test_stream_stream_interval_join(spark, events_dir):
    """Purchases joined to same-user views within 30 minutes: streaming
    result must equal the equivalent batch interval join."""
    stream = S.purchases_with_recent_view(S.read_events_stream(spark, events_dir))
    got = _collect_stream(spark, stream)

    e = read_table(spark, SF_SMOKE, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    want = (
        p.join(
            v,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 minutes")),
        )
        .select("purchase_id", "p_user", "p_ts", "purchase_value", "v_ts")
        .toPandas()
    )
    key = ["purchase_id", "v_ts"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_like=True,
    )


def test_foreach_batch_sink(spark, events_dir, tmp_path):
    """foreachBatch delivers each micro-batch with an epoch id; results
    across epochs reassemble the full input."""
    collected = []

    def sink(df, epoch_id):
        collected.append((epoch_id, df.count()))

    stream = S.read_events_stream(spark, events_dir).select("event_id", "value")
    q = S.write_foreach_batch(stream, sink, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert sum(n for _, n in collected) == 1000  # sf0.001 events
    assert all(isinstance(e, int) for e, _ in collected)


def test_running_user_totals_transform_with_state(spark, events_dir):
    """transformWithStateInPandas operator: final per-user totals match the
    batch aggregate (same contract as the applyInPandasWithState variant).

    Requires protobuf (the TWS state-server wire protocol) — skipped where
    the environment lacks it, like every other optional-dependency gate."""
    pytest.importorskip("google.protobuf.descriptor")
    stream = S.running_user_totals_tws(S.read_events_stream(spark, events_dir))
    got = _collect_stream(spark, stream, mode="update")
    final = got.groupby("user_id").last().reset_index()

    want = (
        read_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
        .toPandas()
    )
    f = final.sort_values("user_id").reset_index(drop=True)[
        ["user_id", "n_events", "total"]
    ]
    w = want.sort_values("user_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(f, w, check_like=True, check_dtype=False)


def test_stream_cold_start_empty_landing_dir(spark, tmp_path):
    """The stream must start on an empty landing directory (the normal
    cold-start pattern) and pick up the first file when it lands."""
    d = tmp_path / "landing"
    d.mkdir()
    stream = S.tumbling_counts(S.read_events_stream(spark, str(d)))
    name = "cold_" + uuid.uuid4().hex[:6]
    q = stream.writeStream.outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    assert spark.sql(f"SELECT * FROM {name}").count() == 0
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "events_0.parquet")
    q.processAllAvailable()
    got = spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0].n
    q.stop()
    assert got > 0


# -- incremental corpus ingestion (round 3) ---------------------------------


def test_clean_corpus_stream_equals_batch(spark, tmp_path):
    """Streaming gate+dedup over a landing dir with a planted duplicate
    file equals the batch length-gate + exact-dedup digest set, and keeps
    exactly one row per digest."""
    d = tmp_path / "docs_landing"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/documents.parquet", d / "docs_0.parquet")
    # second landing file: a duplicate crawl of the same corpus
    shutil.copy(f"{SF_SMOKE}/documents.parquet", d / "docs_1.parquet")

    out = _collect_stream(
        spark, S.clean_corpus_stream(S.read_documents_stream(spark, str(d)))
    )

    batch = (
        read_table(spark, SF_SMOKE, "documents")
        .withColumn(
            "n_tokens",
            F.size(F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")),
        )
        .filter(F.col("n_tokens") >= 25)
        .select(F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("digest"))
        .distinct()
        .toPandas()
    )
    assert len(out) == len(batch)  # duplicate crawl fully collapsed
    assert set(out["digest"]) == set(batch["digest"])
    assert out["digest"].is_unique
    assert (out["n_tokens"] >= 25).all()


def test_clean_corpus_stream_cold_start(spark, tmp_path):
    """An empty landing dir starts the stream on the contract schema
    instead of failing before the first file arrives."""
    d = tmp_path / "empty_docs"
    d.mkdir()
    stream = S.clean_corpus_stream(S.read_documents_stream(spark, str(d)))
    out = _collect_stream(spark, stream)
    assert len(out) == 0
    assert list(out.columns) == ["doc_id", "digest", "n_tokens"]


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """The CMS accumulated across micro-batches (two landing files →
    two epochs) equals the batch sketch over the union — merge is
    associative, so batch boundaries don't change the result — and its
    estimates match exact streaming-side counts at adequate width."""
    import numpy as np

    from mare_spark.operators.sketches import build_cms

    d = tmp_path / "keys_landing"
    d.mkdir()
    a = spark.range(0, 4000).selectExpr("CAST(id % 500 AS LONG) AS k")
    b = spark.range(0, 2000).selectExpr("CAST(id % 250 AS LONG) AS k")
    a.write.parquet(str(d / "f0.parquet"))

    stream = spark.readStream.schema("k long").parquet(str(d) + "/*")
    q, sketch = S.run_cms_over_stream(
        stream, "k", str(tmp_path / "ckpt"), width_bits=12, depth=4
    )
    try:
        q.processAllAvailable()
        b.write.parquet(str(d / "f1.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    batch = build_cms(a.unionAll(b), "k", width_bits=12, depth=4)
    assert (sketch.table == batch.table).all()
    vals = np.arange(500, dtype=np.int64)
    true = np.array([8 + (8 if v < 250 else 0) for v in range(500)])
    assert (sketch.estimate(vals) == true).all()

    # RESTART: a new query on the same checkpoint dir resumes full-history
    # counts (state persisted per epoch) instead of restarting from zeros
    c = spark.range(0, 1000).selectExpr("CAST(id % 100 AS LONG) AS k")
    c.write.parquet(str(d / "f2.parquet"))
    stream2 = spark.readStream.schema("k long").parquet(str(d) + "/*")
    q2, sketch2 = S.run_cms_over_stream(
        stream2, "k", str(tmp_path / "ckpt"), width_bits=12, depth=4
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    batch_all = build_cms(
        a.unionAll(b).unionAll(c), "k", width_bits=12, depth=4
    )
    assert (sketch2.table == batch_all.table).all()


def test_streaming_heavy_hitters_match_batch_counts(spark, tmp_path):
    """After two epochs the tracker's top-k equals the exact batch top-k
    with exact counts (sketch wide, candidates cover the batch tops),
    in (count desc) order."""
    from collections import Counter

    d = tmp_path / "hh_landing"
    d.mkdir()
    # skewed keys: key i appears (50 - i) times, i in 0..49
    rows1 = [(i,) for i in range(50) for _ in range(50 - i)]
    rows2 = [(i,) for i in range(25) for _ in range(10)]  # boost low keys
    spark.createDataFrame(rows1, "k long").write.parquet(str(d / "f0.parquet"))

    stream = spark.readStream.schema("k long").parquet(str(d) + "/*")
    q, tracker = S.run_heavy_hitters_over_stream(
        stream, "k", str(tmp_path / "hh_ckpt"), k=10, width_bits=12
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, "k long").write.parquet(
            str(d / "f1.parquet")
        )
        q.processAllAvailable()
    finally:
        q.stop()

    truth = Counter()
    for key, in rows1 + rows2:
        truth[key] += 1
    want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = tracker.top(10)
    assert {k: c for k, c in got} == dict(want)


def test_scrub_corpus_stream_incremental(spark, tmp_path):
    """Streaming chunk scrub: one-batch run equals the batch CMS scrub;
    a second batch is scrubbed against history (a banner seen once in
    epoch 1 and twice in epoch 2 is removed from the LATER copies —
    early-copy horizon semantics, like watermarked dedup)."""
    from mare_spark.operators.corpus import repeated_chunk_scrub_cms

    banner = "this site uses cookies accept all to continue now"[:100]
    # 8-word banner + unique tails; epoch 1: banner once; epoch 2: twice
    b = "c0 c1 c2 c3 c4 c5 c6 c7"
    e1 = [(0, b + " tail zero unique"), (1, "plain doc one words here")]
    e2 = [(2, b + " tail two unique"), (3, b + " tail three unique"),
          (4, "plain doc four words")]

    d = tmp_path / "scrub_landing"
    d.mkdir()
    out = str(tmp_path / "scrub_out")
    spark.createDataFrame(e1, "doc_id long, text string").write.parquet(
        str(d / "f0.parquet")
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(d) + "/*"
    )
    q, sketch = S.scrub_corpus_stream(
        stream, str(tmp_path / "scrub_ckpt"), out,
        chunk_words=8, max_freq=2, width_bits=14,
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(e2, "doc_id long, text string").write.parquet(
            str(d / "f1.parquet")
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 5
    # epoch-1 copy arrived while count was 1 -> survived (horizon contract)
    assert got[0].clean_text.startswith(b)
    # epoch-2 copies pushed the banner count to 3 > max_freq -> scrubbed
    assert got[2].clean_text == "tail two unique"
    assert got[3].clean_text == "tail three unique"
    assert got[1].n_chunks_removed == 0 and got[4].n_chunks_removed == 0

    # single-batch equivalence: the whole corpus in ONE epoch matches the
    # batch CMS scrub exactly
    d2 = tmp_path / "scrub_landing2"
    d2.mkdir()
    out2 = str(tmp_path / "scrub_out2")
    all_docs = spark.createDataFrame(e1 + e2, "doc_id long, text string")
    all_docs.write.parquet(str(d2 / "f0.parquet"))
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(
        str(d2) + "/*"
    )
    q2, _ = S.scrub_corpus_stream(
        stream2, str(tmp_path / "scrub_ckpt2"), out2,
        chunk_words=8, max_freq=2, width_bits=14,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    batch = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_chunks_removed)
        for r in repeated_chunk_scrub_cms(
            all_docs, "text", "doc_id", chunk_words=8, max_freq=2,
            width_bits=14,
        ).collect()
    }
    streamed = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_chunks_removed)
        for r in spark.read.parquet(out2).collect()
    }
    assert streamed == batch


def test_stream_static_enrichment_equals_batch_join(spark, events_dir):
    """enrich_with_static: the streamed events left-joined to a static
    per-user dim must equal the batch join on the same inputs; users
    absent from the dim survive with NULL enrichment (left join)."""
    batch = read_table(spark, SF_SMOKE, "events")
    # static dim: per-user totals, with half the users withheld so the
    # left-outer NULL path is genuinely exercised
    dim = (
        batch.groupBy("user_id")
        .agg(F.count("*").alias("u_events"))
        .filter(F.col("user_id") % 2 == 0)
    )
    stream = S.enrich_with_static(
        S.read_events_stream(spark, events_dir).select("event_id", "user_id"),
        dim,
        on="user_id",
    )
    got = _collect_stream(spark, stream)
    want = (
        batch.select("event_id", "user_id")
        .join(dim, "user_id", "left")
        .toPandas()
    )
    key = ["event_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_like=True,
    )


def test_stream_static_enrichment_rejects_stateful_forms(spark, events_dir):
    dim = spark.createDataFrame([(1, "x")], "user_id long, tag string")
    stream = S.read_events_stream(spark, events_dir)
    with pytest.raises(ValueError, match="stream-static"):
        S.enrich_with_static(stream, dim, on="user_id", how="full")


def test_streaming_quantile_sketch_equals_batch(spark, tmp_path):
    """The bottom-k sample accumulated across micro-batches equals the
    batch quantile sketch over the union (exact merges make epoch
    slicing invisible), and a restarted query resumes full history."""
    from mare_spark.operators.sketches import (
        merge_quantile_estimates,
        quantile_sketch_table,
    )

    d = tmp_path / "vals_landing"
    d.mkdir()
    a = spark.range(0, 3000).selectExpr(
        "id", "CAST(id % 997 AS DOUBLE) AS v"
    )
    b = spark.range(3000, 5000).selectExpr(
        "id", "CAST(id % 499 AS DOUBLE) AS v"
    )
    a.write.parquet(str(d / "f0.parquet"))

    stream = spark.readStream.schema("id long, v double").parquet(
        str(d) + "/*"
    )
    q, sk = S.run_quantile_sketch_over_stream(
        stream, "v", "id", str(tmp_path / "qckpt"), k=128
    )
    try:
        q.processAllAvailable()
        b.write.parquet(str(d / "f1.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    union = a.unionAll(b).selectExpr("id", "v", "'g' AS g")
    batch = quantile_sketch_table(union, "v", "id", ["g"], k=128).head()
    want = sorted((r.h, r.v) for r in
                  [type("R", (), dict(h=e.h, v=e.v))()
                   for e in batch.quantile_sketch])
    assert sk.rows == want
    est = merge_quantile_estimates(
        quantile_sketch_table(union, "v", "id", ["g"], k=128),
        ["g"], [0.5], k=128,
    ).head()
    assert sk.percentile(0.5) == est.p50

    # RESTART: new query on the same checkpoint resumes full history
    c = spark.range(5000, 6000).selectExpr(
        "id", "CAST(id % 100 AS DOUBLE) AS v"
    )
    c.write.parquet(str(d / "f2.parquet"))
    stream2 = spark.readStream.schema("id long, v double").parquet(
        str(d) + "/*"
    )
    q2, sk2 = S.run_quantile_sketch_over_stream(
        stream2, "v", "id", str(tmp_path / "qckpt"), k=128
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    union3 = union.unionAll(c.selectExpr("id", "v", "'g' AS g"))
    batch3 = quantile_sketch_table(union3, "v", "id", ["g"], k=128).head()
    assert sk2.rows == sorted((e.h, e.v) for e in batch3.quantile_sketch)


def test_streaming_sketch_review_guards(spark, tmp_path):
    """Review-driven streaming-sketch contracts: a checkpoint resumed
    with DIFFERENT build parameters is refused (a mismatched resume
    silently corrupts the sketch); state persists only the max applied
    epoch (O(1), not the full epoch history); NULL keys in the
    heavy-hitter stream don't abort the query."""
    import numpy as np

    d = tmp_path / "nullable_keys"
    d.mkdir()
    spark.range(100).selectExpr(
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id % 7 END AS k"
    ).write.parquet(str(d / "f0.parquet"))
    stream = spark.readStream.schema("k long").parquet(str(d) + "/*")
    q, tracker = S.run_heavy_hitters_over_stream(
        stream, "k", str(tmp_path / "hhck"), width_bits=10, depth=3, k=5
    )
    try:
        q.processAllAvailable()  # would TypeError on int(None) before
    finally:
        q.stop()
    assert tracker.top(3)  # real keys tracked, NULLs excluded

    # parameter mismatch on resume is refused
    stream2 = spark.readStream.schema("k long").parquet(str(d) + "/*")
    with pytest.raises(ValueError, match="parameters"):
        S.run_heavy_hitters_over_stream(
            stream2, "k", str(tmp_path / "hhck"), width_bits=12, depth=3,
            k=5,
        )

    # state file carries max_epoch (an int), not the epoch history
    st = np.load(str(tmp_path / "hhck" / "hh_state.npz"))
    assert "max_epoch" in st.files and st["max_epoch"].shape == ()


def test_streaming_quantile_epoch_slicing_with_conflicting_dup_ids(
    spark, tmp_path
):
    """r8 review regression: a duplicate id with conflicting values at
    the k boundary must not change the converged sketch between epoch
    slicings. Old per-batch trim took k ROWS, so the single-batch run
    burned both slots on the dup hash and never admitted the other id;
    the dedup-before-trim fold keeps the slicings identical."""
    import hashlib

    ids = sorted(range(100), key=lambda i: hashlib.md5(
        f"{i}:".encode()).hexdigest())
    dup, other = ids[0], ids[1]
    rows_a = [(dup, 2.0), (dup, 1.0)]
    rows_b = [(other, 5.0)]

    def run(split: bool, tag: str):
        d = tmp_path / f"land_{tag}"
        d.mkdir()
        if split:
            spark.createDataFrame(rows_a, "id long, v double").write.parquet(
                str(d / "f0.parquet"))
        else:
            spark.createDataFrame(
                rows_a + rows_b, "id long, v double"
            ).coalesce(1).write.parquet(str(d / "f0.parquet"))
        stream = spark.readStream.schema("id long, v double").parquet(
            str(d) + "/*")
        q, sk = S.run_quantile_sketch_over_stream(
            stream, "v", "id", str(tmp_path / f"ck_{tag}"), k=2)
        try:
            q.processAllAvailable()
            if split:
                spark.createDataFrame(
                    rows_b, "id long, v double"
                ).write.parquet(str(d / "f1.parquet"))
                q.processAllAvailable()
        finally:
            q.stop()
        return sk.rows

    one = run(False, "one")
    two = run(True, "two")
    assert one == two
    assert len(one) == 2 and sorted(v for _h, v in one) == [1.0, 5.0]


def test_clean_corpus_stream_reserved_columns(spark, tmp_path):
    """r8 review: caller columns that clash with the dedup ledger's
    output/internal names must fail loud instead of being silently
    clobbered (id_col='digest' would lose the document ids)."""
    import pytest

    land = tmp_path / "land_reserved"
    land.mkdir()
    df = spark.readStream.schema(
        "digest string, text string"
    ).parquet(str(land))
    with pytest.raises(ValueError, match="clash"):
        S.clean_corpus_stream(df, id_col="digest")
    df2 = spark.readStream.schema(
        "doc_id long, text string, n_tokens int"
    ).parquet(str(land))
    with pytest.raises(ValueError, match="clash"):
        S.clean_corpus_stream(df2)


def test_heavy_hitters_top_is_restart_order_independent():
    """r8 review: top(k) boundary ties must break on sorted key order,
    not set-iteration order (which differs between a fresh run and an
    npz reload)."""
    from mare_spark.operators.sketches import CountMinSketch
    from mare_spark.streaming import run_heavy_hitters_over_stream  # noqa: F401

    # replicate _Tracker's logic through the real class by constructing
    # the same tie: two keys, equal counts, ask for top(1)
    import numpy as np

    class T:
        pass

    # insertion orders that differ: {5, 9} vs {9, 5}
    for insert_order in ([5, 9], [9, 5]):
        sk = CountMinSketch(8, 2)
        arr = np.array([5, 9], dtype=np.int64)
        sk.add(arr)  # one count each -> tie
        cands = set()
        for c in insert_order:
            cands.add(c)
        vals = np.fromiter(sorted(cands), dtype=np.int64)
        est = sk.estimate(vals)
        order = np.argsort(-est.astype(np.int64), kind="stable")
        assert int(vals[order[0]]) == 5  # always the smaller key


def test_sessionize_replay_warm_run_compiles_nothing(spark):
    """streaming_sessionize_replay splits its landing files on fixed ts
    cut points and writes them in replay order, so each micro-batch's
    watermark literal repeats run to run: a warm run compiles 0 classes
    and returns the same sessions."""
    from mare_spark.registry import all_queries
    from mare_spark.session import codegen_compiles

    q = all_queries()["streaming_sessionize_replay"]
    first = sorted(q.fn(spark, SF_SMOKE).collect())
    before = codegen_compiles(spark)
    second = sorted(q.fn(spark, SF_SMOKE).collect())
    assert codegen_compiles(spark) == before
    assert second == first
