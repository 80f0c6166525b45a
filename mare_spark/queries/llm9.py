"""Round-7 registrations: the quantization-family recall audit and the
PCA-whitened similarity composition — the two driver-visible rows the
quantization (pq.py) and PCA (pca.py) families were built to feed.

Both rows are rows-only by design (PQ codebooks and PCA components come
from iterative numpy training, not SQL-expressible); the differential
oracles live in tests/test_pq.py and tests/test_pca.py (numpy-equality
end-to-end).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mare_spark.numeric import fround
from mare_spark.registry import register
from mare_spark.tables import read_table

# Fixed audit parameters: deterministic training (md5-ordered samples,
# fixed iteration counts) means the whole report is a pure function of
# the fixture.
_K = 20
_N_QUERIES = 5


def _audit_queries(emb):
    """The fixture's first _N_QUERIES vectors by vec_id — deterministic
    and present at every SF."""
    return [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_N_QUERIES)
        .collect()
    ]


def _exact_l2_topk_batch(df, queries, k):
    """Exact squared-L2 top-k for ALL audit queries in ONE Spark job:
    a single Arrow pass scores every corpus vector against the whole
    query block (one (batch, n_queries) numpy matmul-shaped distance
    matrix per Arrow batch), then one per-query window top-k — the
    map side trims to k per query per task (WindowGroupLimit), so the
    exchange carries at most tasks·queries·k rows. Replaces the
    previous per-query loop (n_queries sequential actions) with one
    action. Returns {qid: [vec_id, ...]} under the (dist, vec_id)
    tie-break every tier shares. An unusable vector (the similarity
    module's vector contract) is left out."""
    import pyarrow as pa
    from pyspark.sql.window import Window

    from mare_spark.operators.similarity import _scored_rows

    Q = np.array([qv for _, qv in queries], dtype=np.float64)
    qids = np.array([qid for qid, _ in queries], dtype=np.int64)
    nq, dim = Q.shape

    def score(batches):
        for batch in batches:
            ok, X = _scored_rows(batch.column(1), dim)
            ids = np.asarray(batch.column(0), dtype=np.int64)[ok]
            if len(ids) == 0:
                continue
            # ||x-q||^2 expanded form: one GEMM instead of a (B, nq, dim)
            # broadcasted cube
            d2 = (
                (X * X).sum(axis=1)[:, None]
                - 2.0 * (X @ Q.T)
                + (Q * Q).sum(axis=1)[None, :]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.tile(qids, len(ids))),
                    pa.array(np.repeat(ids, nq)),
                    pa.array(d2.ravel()),
                ],
                names=["qid", "vec_id", "dist"],
            )

    scored = (
        df.select("vec_id", "embedding")
        .mapInArrow(score, "qid long, vec_id long, dist double")
    )
    w = Window.partitionBy("qid").orderBy("dist", "vec_id")
    rows = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("qid", "rnk")
        .collect()
    )
    out: dict[int, list[int]] = {int(q): [] for q in qids}
    for r in rows:
        out[r.qid].append(r.vec_id)
    return out


@register("sim_pq_recall_report", category="llm", oracle=None)
def sim_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@20 of every quantized ANN tier against the exact
    squared-L2 top-20, averaged over the fixture's first 5 query
    vectors — the audit row that turns the PQ family's "recall is a
    quantization dial" claims into recorded numbers:

    * ``sq_int8``   — scalar-quantized int8 codes (4x compression),
    * ``pq_adc``    — PQ codes scored by ADC (m=16, nbits=6; 16 bytes/vec),
    * ``pq_rerank`` — the same shortlist=5k ADC pass + exact re-rank,
    * ``ivfpq_full``— the batch IVF-PQ probe at nprobe=nlist (no cell
      pruning loss — isolates the PQ quantization error),
    * ``ivfpq_n4``  — the production shape, nprobe=4 of nlist=16.

    Rows-only by design: codebooks/centroids come from iterative numpy
    Lloyd training (differential-tested in tests/test_pq.py); the
    recall arithmetic itself is pinned by a pytest recomputing it from
    the tiers' own outputs. Everything upstream of the final bounded
    collects (k rows per tier per query) runs distributed; the report
    is O(tiers x queries x k) driver work.

    This is an AUDIT TOOL, not a batch-scoring path: its per-tier
    single-query probes are sequential bounded actions, deliberately
    mirroring how each tier is called in production for ONE query.
    Score a query workload with :func:`ivfpq_topk_batch` (the thing
    this row audits); the exact baseline here already runs as one
    batched job (:func:`_exact_l2_topk_batch`).
    """
    from mare_spark.cache import cache_scope, persist
    from mare_spark.operators.pq import (
        fit_scalar_quantizer,
        ivfpq_topk_batch,
        pq_assign,
        pq_topk,
        pq_topk_rerank,
        sq_encode,
        sq_topk,
        train_pq_codebooks,
    )
    from mare_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )

    # ONE materialization of the embeddings scan: the fits, both encodes,
    # and the batched exact-baseline job all re-read it otherwise. The
    # scope drops every persist on exit, also when a fit/assign raises.
    with cache_scope():
        emb = persist(read_table(spark, sf_dir, "embeddings"))
        queries = _audit_queries(emb)
        dim = len(queries[0][1])

        mins, maxs = fit_scalar_quantizer(emb, "embedding", dim)
        sq = persist(sq_encode(emb, "embedding", mins, maxs))
        books = train_pq_codebooks(emb, "embedding", "vec_id", m=16, nbits=6)
        cents = train_ivf_centroids(emb, nlist=16)
        index = persist(pq_assign(ivf_assign(emb, cents), "embedding", books))
        qdf = spark.createDataFrame(
            [(qid, qv) for qid, qv in queries],
            "qid long, qvec array<double>",
        )
        exact = _exact_l2_topk_batch(emb, queries, _K)
        got: dict[str, dict[int, list[int]]] = {}
        got["sq_int8"] = {
            qid: [r.vec_id
                  for r in sq_topk(sq, mins, maxs, qv, _K).collect()]
            for qid, qv in queries
        }
        got["pq_adc"] = {
            qid: [r.vec_id for r in pq_topk(index, books, qv, _K).collect()]
            for qid, qv in queries
        }
        got["pq_rerank"] = {
            qid: [r.vec_id
                  for r in pq_topk_rerank(index, books, qv, _K).collect()]
            for qid, qv in queries
        }
        for tier, nprobe in (("ivfpq_full", 16), ("ivfpq_n4", 4)):
            rows = ivfpq_topk_batch(
                qdf, index, cents, books, _K, nprobe=nprobe
            ).collect()
            by_q: dict[int, list[int]] = {qid: [] for qid, _ in queries}
            for r in rows:
                by_q[r.qid].append(r.vec_id)
            got[tier] = by_q

    report = []
    for tier in ("sq_int8", "pq_adc", "pq_rerank", "ivfpq_full", "ivfpq_n4"):
        hits = sum(
            len(set(exact[qid]) & set(ids)) for qid, ids in got[tier].items()
        )
        report.append((tier, _N_QUERIES, _K, hits))
    out = spark.createDataFrame(
        report, "tier string, n_queries int, k int, hits int"
    )
    return out.select(
        "tier", "n_queries", "k", "hits",
        fround(
            F.col("hits") / F.lit(float(_N_QUERIES * _K)), 4
        ).alias("recall"),
    )


@register("sim_topk_whitened", category="llm", oracle=None)
def sim_topk_whitened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitened cosine top-k — the composition the PCA family exists
    for: fit PCA on the embedding corpus (one distributed moment pass +
    driver eigh), project every vector AND the query into the whitened
    component space (decorrelated, unit-variance — cosine there is
    Mahalanobis-like, down-weighting directions the corpus varies in
    most), then exact cosine top-20 in that space.

    Rows-only by design (eigh is iterative numpy); the end-to-end
    numpy-equality differential lives in tests/test_pca.py. Plan: the
    projection is one Arrow-batched matmul riding the scan, the top-k a
    TakeOrdered — the whitening adds ZERO shuffles over plain
    brute-force cosine.
    """
    from mare_spark.operators.pca import pca_fit, pca_project
    from mare_spark.operators.similarity import cosine_to_query

    emb = read_table(spark, sf_dir, "embeddings")
    qid, qvec = _audit_queries(emb)[0]
    dim = len(qvec)
    model = pca_fit(emb, "embedding", dim, k=16)
    # model.transform shares pca_project's exact whitening matrix (same
    # eps) — an inline re-derivation could drift and put query and
    # corpus in mismatched spaces
    wq = model.transform(qvec, whiten=True).tolist()
    proj = pca_project(
        emb, "embedding", "vec_id", model, whiten=True, out_col="wvec"
    )
    return (
        proj.select(
            "vec_id",
            fround(cosine_to_query(F.col("wvec"), wq), 6).alias("wcosine"),
        )
        .filter(F.col("vec_id") != qid)
        .orderBy(F.desc("wcosine"), F.asc("vec_id"))
        .limit(_K)
    )
