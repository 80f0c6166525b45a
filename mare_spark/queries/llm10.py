"""Round-8 registrations: the dependency-free media-decode row (real BMP
pixel / WAV PCM byte arithmetic, hash-checked against an oracle that
replays the same arithmetic from doc_id) and the RAG-shaped end-to-end
composition row (chunk -> embed -> IVF-PQ -> metadata-gated retrieval).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mare_spark.numeric import fround
from mare_spark.registry import register
from mare_spark.tables import read_table

# Synthetic-payload arithmetic shared by the Spark builder and the DuckDB
# oracle: even doc_ids become full 24bpp BMPs, odd doc_ids PCM WAVs, with
# every pixel byte / sample an explicit function of (doc_id, position) —
# so the oracle can recompute the decoded stats WITHOUT touching bytes,
# and any drift in the synthesizer's file layout or the decoder's
# unpacking (row padding, bottom-up order, int16 endianness, chunk walk)
# hash-fails the row.
_MEDIA_ORACLE = """
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END
           AS mime,
         CASE WHEN doc_id % 2 = 0
              THEN (1 + doc_id % 5) * (1 + doc_id % 4) * 3
              ELSE (8 + doc_id % 9) * (1 + doc_id % 2) END AS n
  -- NULL doc_ids excluded in lockstep with the builder (int(NaN) would
  -- abort the pandas_udf; range(NULL) would silently drop here — the
  -- guard makes both engines skip the row identically)
  FROM documents WHERE doc_id IS NOT NULL
),
v AS (
  SELECT doc_id, mime, n,
         CASE WHEN mime = 'image/bmp'
              THEN (doc_id * 7 + j * 13) % 256
              ELSE ((doc_id * 31 + j * 17) % 65536) - 32768 END AS val
  FROM b, UNNEST(range(n)) AS u(j)
)
SELECT doc_id, mime,
       CAST(count(*) AS BIGINT) AS n_units,
       CAST(sum(val) AS BIGINT) AS val_sum,
       CAST(min(val) AS INT) AS val_min,
       CAST(max(val) AS INT) AS val_max
FROM v
GROUP BY doc_id, mime
"""


@register("multimodal_media_stats", category="llm", oracle=_MEDIA_ORACLE)
def multimodal_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decoding, hash-checked: every document gets a COMPLETE
    synthetic media file (even doc_ids a spec-true 24bpp BMP — 54-byte
    header, bottom-up rows, 4-byte row padding; odd doc_ids a canonical
    PCM WAV — RIFF chunk chain, interleaved little-endian int16), whose
    pixel bytes / samples are explicit arithmetic in (doc_id, position).
    The engine must recover exact integer stats by actually PARSING and
    UNPACKING the bytes (:func:`multimodal.decode_media_stats` — mime
    sniff, then pure-numpy :func:`decode_bmp` / :func:`decode_wav`); the
    DuckDB oracle recomputes the same stats from the arithmetic alone,
    so a wrong stride, a missed bottom-up flip, or a sign error in the
    int16 unpack hash-fails.

    Scale shape: payload build + decode are one fused Arrow-batched
    scan-side pass, zero shuffle; per-row output is 6 scalars regardless
    of payload size — decode rides AFTER metadata-first filtering in a
    real pipeline (module docstring posture).
    """
    from mare_spark.operators.multimodal import (
        decode_media_stats,
        synthesize_media_payload,
    )

    @F.pandas_udf("binary")
    def build(ids: pd.Series) -> pd.Series:
        def one(i):
            i = int(i)
            if i % 2 == 0:
                w, h = 1 + i % 5, 1 + i % 4
                n = w * h * 3
                body = bytes(
                    ((i * 7 + np.arange(n) * 13) % 256).astype(np.uint8)
                )
                return synthesize_media_payload(
                    "bmp24", width=w, height=h, body=body
                )
            ch, frames = 1 + i % 2, 8 + i % 9
            n = frames * ch
            samples = (
                ((i * 31 + np.arange(n) * 17) % 65536) - 32768
            ).astype("<i2")
            return synthesize_media_payload(
                "wav", channels=ch,
                sample_rate=8000 + (i % 8) * 1000,
                body=samples.tobytes(),
            )

        return ids.map(one)

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id").isNotNull())  # lockstep with the oracle
    )
    payloads = docs.withColumn("payload", build(F.col("doc_id")))
    return decode_media_stats(payloads, "payload", "doc_id")


# RAG composition parameters — fixed so the registered row and its
# step-by-step pytest replay are the same pure function of the fixture.
_RAG = dict(window=32, stride=16, dim=64, nlist=8, m=8, nbits=4,
            k=10, nprobe=2, n_queries=3)


@register("rag_retrieval_report", category="llm", oracle=None)
def rag_retrieval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG-shaped end-to-end composition, driver-visible: chunk the
    corpus (:func:`text.sliding_chunks`, distinct-content tails), embed
    every chunk AND every query through the same model-free hashing
    embedder (:func:`text.hashing_embed` — one operator, so query and
    corpus can't drift into mismatched spaces), build an IVF-PQ index
    over the chunk vectors, and run METADATA-GATED retrieval: each query
    doc's language filters the index BEFORE the probe (the gate composes
    with partition pruning on an on-disk index — cheap rows never reach
    the scorer).

    Queries are the fixture's first ``n_queries`` documents; each query
    text is the doc's own first chunk, so retrieval must find a
    near-exact hit inside its language gate. The batch prober runs once
    per distinct query language (bounded by n_queries), each a
    cell-keyed cogroup job — never per query.

    Rows-only by design (IVF/PQ training is iterative numpy); the
    differential pytest replays the composition step by step and pins
    the report bit-identical (tests/test_pq.py).

    Returns ``(qid, lang, rnk, doc_id, chunk_idx, adc_dist)`` — rnk
    1..k within each query's gate.
    """
    from mare_spark.cache import persist
    from mare_spark.operators.pq import (
        ivfpq_topk_batch,
        pq_assign,
        train_pq_codebooks,
    )
    from mare_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )
    from mare_spark.operators.text import hashing_embed, sliding_chunks

    p = _RAG
    docs = read_table(spark, sf_dir, "documents")
    chunks = sliding_chunks(
        docs, "text", "doc_id",
        window=p["window"], stride=p["stride"],
        keep_cols=("lang",), drop_redundant_tail=True,
    ).withColumn(
        "chunk_uid",
        (F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_idx"))
        .cast("long"),
    )
    # persisted in the caller's cache scope, not released here: the
    # returned plan reads ``emb`` through ``index``, so the caller's
    # action must still find it cached
    emb = persist(hashing_embed(chunks, "chunk_text", dim=p["dim"]))
    cents = train_ivf_centroids(emb, nlist=p["nlist"])
    books = train_pq_codebooks(
        emb, "embedding", "chunk_uid", m=p["m"], nbits=p["nbits"]
    )
    index = pq_assign(ivf_assign(emb, cents), "embedding", books)

    # queries: doc's own first chunk, embedded by the same operator.
    # NULL-lang docs are excluded from the QUERY set explicitly — a
    # NULL gate value matches nothing under `==` and would also make
    # the per-language grouping unsortable (the NULL-contract class
    # the repo's review sweeps pin)
    qrows = (
        emb.filter(
            (F.col("chunk_idx") == 0) & F.col("lang").isNotNull()
        )
        .select("doc_id", "lang", "embedding")
        .orderBy("doc_id")
        .limit(p["n_queries"])
        .collect()
    )
    if not qrows:
        raise ValueError(
            "rag_retrieval_report: no chunk-0 rows with a non-NULL "
            "lang — cannot form a query set"
        )
    by_lang: dict[str, list] = {}
    for r in qrows:
        by_lang.setdefault(r.lang, []).append(
            (int(r.doc_id), [float(x) for x in r.embedding])
        )
    reports = []
    for lang, qs in sorted(by_lang.items()):
        qdf = spark.createDataFrame(
            qs, "qid long, qvec array<double>"
        )
        gated = index.filter(F.col("lang") == lang)
        topk = ivfpq_topk_batch(
            qdf, gated, cents, books, p["k"],
            nprobe=p["nprobe"], id_col="chunk_uid",
        )
        reports.append(topk.withColumn("lang", F.lit(lang)))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.select(
        "qid", "lang", "rnk",
        # integer division, not `/`: double promotion loses exactness
        # past 2^53 and could mis-attribute a hit to a neighbor doc
        F.expr("chunk_uid div 1000000").alias("doc_id"),
        F.pmod(F.col("chunk_uid"), F.lit(1_000_000)).cast("int")
        .alias("chunk_idx"),
        fround(F.col("adc_dist"), 6).alias("adc_dist"),
    ).orderBy("qid", "rnk")
