"""Product quantization (PQ) for embedding columns — the compression half
of the IVF-PQ family every large-scale ANN deployment runs: 64-dim float32
vectors (256 bytes) become ``m`` small integer codes (m bytes at 8 bits),
so a 100 TB embedding table's search structure fits in memory and the
probe never touches the raw vectors.

Scale shape (mirrors the pca/similarity modules):

* ``train_pq_codebooks``: one bounded md5-ordered driver fetch of
  ``sample`` vectors (the LSH-plane / centroid-seed contract — never a
  full collect), then per-subspace Lloyd iterations in numpy on the
  driver. Codebooks are (m, 2^nbits, dim/m) — KBs.
* ``pq_assign``: scan-side Arrow pass; each batch argmins its subvectors
  against the codebooks riding the closure. Zero shuffle.
* ``pq_topk``: asymmetric distance computation (ADC) — the query builds
  an (m, 2^nbits) lookup table ONCE; each row's approximate squared L2
  is m table lookups summed, vectorized per Arrow batch, then a
  TakeOrdered top-k. Zero shuffle besides the bounded top-k. The ADC
  identity (ADC(q, codes) == exact L2(q, reconstruction)) is pinned by
  test — the approximation error is entirely quantization, never the
  probe arithmetic.

* ``fit_scalar_quantizer`` / ``sq_encode`` / ``sq_topk``: the int8 tier —
  one distributed min/max pass, then scan-side Arrow encode and score.

Bad rows follow the vector contract of
:mod:`mare_spark.operators.similarity`, whose Arrow reader reads every
vector and SQ code batch: the row-wise passes give NULL (so every top-k
leaves the row out), the codebook sample skips it, the SQ fit raises.

Determinism: sampling is md5-ordered, seeding takes the first distinct
subvectors, and Lloyd runs a fixed iteration count with ties broken by
centroid index — the codebooks are a pure function of (data, params),
layout-independent (pinned by test). Iterative training is not
SQL-expressible, so this family is differential-tested (numpy model),
like k-means/PCA.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mare_spark.operators.similarity import (
    _batch_rows,
    _batch_values,
    _cells_udf,
    _fit_rows,
    _modal_rows,
    _usable_vector,
    ivf_assign,
    probe_cells_for,
)


def _sample_vectors(
    df: DataFrame, vec_col: str, id_col: str, sample: int
) -> np.ndarray:
    """The first ``sample`` usable vectors in md5(id) order, of the
    sample's most common length."""
    rows = (
        df.where(_usable_vector(vec_col))
        .select(vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .head(sample)
    )
    return _modal_rows([r[0] for r in rows])


def _adc_table(codebooks: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Query-side (m, 2^nbits) squared-L2 lookup table — the one piece
    of per-query work every ADC probe shares."""
    m, _k, dsub = codebooks.shape
    return np.stack(
        [
            ((codebooks[j] - q[j * dsub : (j + 1) * dsub][None, :]) ** 2)
            .sum(axis=1)
            for j in range(m)
        ]
    )


def _adc_batch(table: np.ndarray, code_rows: list) -> np.ndarray:
    """Vectorized ADC for a batch of code lists against one table:
    one fancy-index gather + row sum, validating code width once."""
    m = table.shape[0]
    C = np.array(code_rows, dtype=np.int64)
    if C.ndim != 2 or C.shape[1] != m:
        raise ValueError(
            f"codes width {C.shape[1] if C.ndim == 2 else 'ragged'} "
            f"!= codebooks m={m} — index and probe quantizers differ"
        )
    return table[np.arange(m)[None, :], C].sum(axis=1)


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    m: int = 8,
    nbits: int = 4,
    sample: int = 2048,
    iters: int = 10,
) -> np.ndarray:
    """Learn per-subspace codebooks: split the vector into ``m`` equal
    blocks, k-means (k = 2^nbits) each block over an md5-ordered sample
    of usable rows (the vector contract's sample rule).
    Returns ``(m, 2**nbits, dim//m)`` float64. Deterministic: seeds are
    the sample's first k distinct subvectors, fixed ``iters`` Lloyd
    rounds, argmin ties to the lower index; empty clusters keep their
    previous centroid."""
    X = _sample_vectors(df, vec_col, id_col, sample)
    if X.ndim != 2 or X.shape[0] == 0:
        raise ValueError("empty sample — cannot train codebooks")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    k, dsub = 2 ** nbits, dim // m
    books = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        # first k DISTINCT subvectors as seeds (dedup keeps determinism
        # when the sample contains repeated vectors)
        _, idx = np.unique(S, axis=0, return_index=True)
        seed_rows = S[np.sort(idx)][:k]
        cents = np.resize(seed_rows, (k, dsub)).astype(np.float64)
        for _ in range(iters):
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # ties -> lower index
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = S[mask].mean(axis=0)
        books[j] = cents
    return books


def _codes_udf(books: np.ndarray):
    """Arrow UDF: each vector's ``m`` codebook indices as ``array<int>``,
    one (rows, k) distance matrix per subspace over the whole batch. NULL
    for a vector the cosine kernel scores NULL: a NULL vector, a NULL
    element, or a length other than the codebooks' ``m * dsub``."""
    m, _k, dsub = books.shape

    def nearest(X: np.ndarray) -> np.ndarray:
        return np.stack(
            [
                (
                    ((X[:, j * dsub : (j + 1) * dsub, None]
                      - books[j].T[None, :, :]) ** 2).sum(axis=1)
                ).argmin(axis=1)
                for j in range(m)
            ],
            axis=1,
        ).astype(np.int32)

    def codes(vecs: pa.Array) -> pa.Array:
        return _batch_rows(vecs, m * dsub, nearest)

    return F.arrow_udf(codes, "array<int>")


def pq_assign(
    df: DataFrame,
    vec_col: str,
    codebooks: np.ndarray,
    *,
    out_col: str = "pq_codes",
) -> DataFrame:
    """Append ``out_col``: the vector's ``m`` codebook indices — the
    compressed representation (m · nbits bits vs dim · 32), NULL for a
    vector the cosine kernel scores NULL. Scan-side Arrow pass (one
    batched distance matrix per subspace), codebooks ride the closure,
    zero shuffle."""
    return df.withColumn(out_col, _codes_udf(codebooks)(F.col(vec_col)))


def pq_reconstruct(codes, codebooks: np.ndarray) -> np.ndarray:
    """Decode one code list back to its centroid concatenation (the
    vector PQ 'remembers') — the reference point for the ADC identity."""
    return np.concatenate(
        [codebooks[j, c] for j, c in enumerate(codes)]
    )


def pq_topk(
    df: DataFrame,
    codebooks: np.ndarray,
    query_vec,
    k: int,
    *,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Approximate k-nearest (squared L2) via ADC over PQ codes: the
    query's (m, 2^nbits) distance table is built once on the driver and
    rides the closure; each row costs m int lookups. Returns
    ``(id, adc_dist)`` ascending — ADC equals the EXACT squared L2 to
    the row's reconstruction (pinned by test), so recall vs true
    neighbors is purely a quantization dial (raise nbits/m). TakeOrdered
    top-k; no shuffle of the code table."""
    m, _kk, dsub = codebooks.shape
    q = np.asarray(list(query_vec), dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(
            f"query dim {q.shape[0]} != codebook dim {m * dsub}"
        )
    table = _adc_table(codebooks, q)  # (m, 2^nbits)

    def adc(codes: pa.Array) -> pa.Array:
        ok = codes.is_valid().to_numpy(zero_copy_only=False)
        out = np.zeros(len(codes))
        if ok.any():
            live = codes.filter(pa.array(ok)).to_pylist()
            out[ok] = _adc_batch(table, live)
        return pa.array(out, mask=~ok)

    dist = F.arrow_udf(adc, "double")(F.col(codes_col))
    return (
        df.select(F.col(id_col), dist.alias("adc_dist"))
        .filter(F.col("adc_dist").isNotNull())
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def pq_topk_rerank(
    df: DataFrame,
    codebooks: np.ndarray,
    query_vec,
    k: int,
    *,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """The production PQ probe: ADC over the compressed codes builds a
    ``shortlist`` (default 5k) of candidates — the cheap pass that never
    touches raw vectors — then ONLY those rows' raw vectors are read for
    an exact squared-L2 re-rank to the final top-``k``. Measured on the
    64-dim fixture (m=16, nbits=6): shortlist=k gives recall@20 = 0.60,
    shortlist=5k recovers 1.00 — the shortlist factor is the recall
    dial, and the exact stage costs O(shortlist), not O(corpus).

    Returns ``(id, dist)`` ascending. The shortlist (k-ish rows) joins
    the vector table as a small side — broadcast by AQE — so the raw
    table is semi-joined down before any distance math. A shortlisted
    row whose vector is unusable scores NULL and is left out."""
    if shortlist is None:
        shortlist = 5 * k
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} < k {k}")
    cand = pq_topk(
        df, codebooks, query_vec, shortlist,
        id_col=id_col, codes_col=codes_col,
    ).select(id_col)
    q = np.asarray(list(query_vec), dtype=np.float64)

    def exact(vecs: pa.Array) -> pa.Array:
        return _batch_values(
            vecs, len(q), lambda X: ((q[None, :] - X) ** 2).sum(axis=1)
        )

    dist = F.arrow_udf(exact, "double")(F.col(vec_col))
    return (
        df.join(cand, id_col, "left_semi")
        .select(F.col(id_col), dist.alias("dist"))
        .filter(F.col("dist").isNotNull())
        .orderBy("dist", id_col)
        .limit(k)
    )


def fit_scalar_quantizer(
    df: DataFrame, vec_col: str, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (min, max) over the corpus — the int8 scalar
    quantizer's whole model, from ONE distributed pass: each partition
    reduces to a (dim, mn, mx) summary inside an Arrow batch iterator
    (the covariance module's partial shape), the merge is a dim-keyed
    min/max aggregate, and the driver collects 2·dim floats. Exact and
    layout-independent (min/max are order-free). A full-pass fit: an
    unusable row raises the vector contract's ``ValueError``."""

    def partials(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            arr = _fit_rows(batch.column(0), dim, vec_col)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.arange(dim, dtype=np.int32)),
                    pa.array(arr.min(axis=0)),
                    pa.array(arr.max(axis=0)),
                ],
                names=["d", "mn", "mx"],
            )

    rows = (
        df.select(vec_col)
        .mapInArrow(partials, "d int, mn double, mx double")
        .groupBy("d")
        .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
        .collect()
    )
    if not rows:
        raise ValueError("empty input — cannot fit a scalar quantizer")
    mins = np.zeros(dim, dtype=np.float64)
    maxs = np.zeros(dim, dtype=np.float64)
    for r in rows:
        mins[r.d], maxs[r.d] = r.mn, r.mx
    return mins, maxs


def sq_encode(
    df: DataFrame,
    vec_col: str,
    mins: np.ndarray,
    maxs: np.ndarray,
    *,
    out_col: str = "sq_codes",
) -> DataFrame:
    """Append ``out_col``: the vector quantized to int8 per dimension —
    ``round((x−mn)/(mx−mn)·255) − 128`` (constant dims encode 0) — a 4×
    compression with ≤ half-step (≈(mx−mn)/510) absolute error per
    coordinate, pinned by test. Scan-side Arrow pass, model rides the
    closure, zero shuffle. NULL for an unusable vector (the vector
    contract)."""
    span = np.where(maxs > mins, maxs - mins, 1.0)
    lo = mins.copy()

    def enc(X: np.ndarray) -> np.ndarray:
        q = np.floor((X - lo) / span * 255.0 + 0.5)
        return np.clip(q, 0, 255).astype(np.int32) - 128

    def codes(vecs: pa.Array) -> pa.Array:
        return _batch_rows(vecs, len(lo), enc)

    return df.withColumn(
        out_col, F.arrow_udf(codes, "array<int>")(F.col(vec_col))
    )


def sq_reconstruct(codes, mins: np.ndarray, maxs: np.ndarray) -> np.ndarray:
    """Decode int8 codes back to the quantization-grid vector."""
    span = np.where(maxs > mins, maxs - mins, 1.0)
    c = np.asarray(codes, dtype=np.float64) + 128.0
    return mins + c / 255.0 * span


def sq_topk(
    df: DataFrame,
    mins: np.ndarray,
    maxs: np.ndarray,
    query_vec,
    k: int,
    *,
    id_col: str = "vec_id",
    codes_col: str = "sq_codes",
) -> DataFrame:
    """k-nearest (squared L2) over int8-quantized vectors: each row
    reconstructs on the quantization grid and scores against the query
    in one vectorized Arrow pass; TakeOrdered top-k. The coarse 4×
    tier — near-exact recall (half-step error), vs PQ's 20×+ with a
    rerank dial. Codes read like vectors: a NULL, NULL-holding or
    wrong-length code list scores NULL and is left out."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    if q.shape[0] != mins.shape[0]:
        raise ValueError(
            f"query dim {q.shape[0]} != model dim {mins.shape[0]}"
        )
    span = np.where(maxs > mins, maxs - mins, 1.0)
    lo = mins.copy()

    def dist(codes: pa.Array) -> pa.Array:
        return _batch_values(codes, len(q), lambda C: (
            (q - (lo + (C + 128.0) / 255.0 * span)) ** 2
        ).sum(axis=1))

    d = F.arrow_udf(dist, "double")(F.col(codes_col))
    return (
        df.select(F.col(id_col), d.alias("dist"))
        .filter(F.col("dist").isNotNull())
        .orderBy("dist", id_col)
        .limit(k)
    )


def write_ivfpq_index(
    df: DataFrame,
    path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    keep_vectors: bool = False,
) -> None:
    """Materialize the corpus as an on-disk IVF-PQ index: every row gets
    its IVF cell (→ PARTITION column: probes are partition-pruned scans,
    like :func:`~mare_spark.operators.similarity.write_ivf_index`) and
    its PQ codes (→ the scanned bytes per probed row are m·4 instead of
    dim·4). ``keep_vectors=True`` additionally stores the raw vectors so
    the exact re-rank reads from the index itself; the codes-only
    default is the ~20× smaller layout — rerank then joins the original
    vector table on the shortlist ids (a k-row semi-join). Both
    assignment passes are scan-side Arrow; the write shuffles nothing.
    """
    coded = pq_assign(
        ivf_assign(df, centroids, vec_col=vec_col, cell_col=cell_col),
        vec_col, codebooks,
    )
    cols = [id_col, "pq_codes", cell_col] + (
        [vec_col] if keep_vectors else []
    )
    coded.select(*cols).write.mode("overwrite").partitionBy(
        cell_col
    ).parquet(path)


def ivfpq_topk_indexed(
    spark,
    index_path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_vec,
    k: int,
    *,
    nprobe: int = 4,
    rerank_shortlist: int | None = None,
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k probe against a :func:`write_ivfpq_index` layout: the
    query's ``nprobe`` nearest cells become a PartitionFilter (only
    those directories are listed/read — plan-asserted in tests), ADC
    scores the probed codes, and — when the index stores vectors and
    ``rerank_shortlist`` is set — the exact re-rank runs over the
    shortlist only. Returns ``(id, adc_dist)`` or ``(id, dist)``
    ascending."""
    probed = spark.read.parquet(index_path).filter(
        F.col(cell_col).isin(probe_cells_for(centroids, query_vec, nprobe))
    )
    if rerank_shortlist is not None:
        if vec_col not in probed.columns:
            raise ValueError(
                "rerank needs keep_vectors=True at write time (or join "
                "the shortlist against the vector table yourself)"
            )
        return pq_topk_rerank(
            probed, codebooks, query_vec, k,
            shortlist=rerank_shortlist, id_col=id_col, vec_col=vec_col,
        )
    return pq_topk(probed, codebooks, query_vec, k, id_col=id_col)


def ivfpq_topk_batch(
    queries: DataFrame,
    index: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int,
    *,
    nprobe: int = 4,
    cell_splits: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """BATCH retrieval — the "score a million queries against the corpus
    tonight" shape: every query explodes into its ``nprobe`` nearest IVF
    cells (``similarity._cells_udf``, the rule the index was assigned by;
    a query vector the cosine kernel scores NULL probes nothing and
    returns no rows), and scoring happens inside a COGROUP KEYED ON THE
    CELL (``groupBy(cell).cogroup(...)``):
    each query vector crosses the exchange once per (query, probed cell)
    — never once per candidate, which at dim=768 would be ~6 KB of
    payload per scored row dwarfing the m-byte PQ codes it meets. Inside
    a cell group one ADC table per query scores the whole cell with one
    vectorized gather, and only the cell-local top-``k`` per query
    leaves Python (global top-k == top-k of per-cell top-ks under the
    same (dist, id) order), so the final per-query window sees at most
    ``nprobe · k`` rows per query (two-phase WindowGroupLimit trims on
    the map side). A (query, row) pair meets at most once — rows live in
    exactly one cell.

    ``cell_splits > 1`` salts the cell key (index rows hash-salted,
    query probes replicated per salt) — the declarative skew valve for a
    hot cell: work per group drops ``splits``-fold, results are
    identical because the per-split partial top-k commutes. Use when one
    IVF cell holds a disproportionate share of the corpus.

    Returns ``(qid, vec_id, adc_dist, rnk)`` with rnk 1..k per query.
    NULL-codes rows drop out, matching the single-query probe.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType
    from pyspark.sql.window import Window

    if cell_splits < 1:
        raise ValueError(f"cell_splits must be >= 1, got {cell_splits}")
    exploded = queries.select(
        qid_col, qvec_col,
        F.explode(_cells_udf(centroids, nprobe)(F.col(qvec_col))).alias(
            cell_col
        ),
    )
    idx = index.select(id_col, codes_col, cell_col)
    keys = [cell_col]
    if cell_splits > 1:
        keys = [cell_col, "_salt"]
        idx = idx.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(cell_splits)).cast(
                "int"
            ),
        )
        exploded = exploded.join(
            F.broadcast(
                exploded.sparkSession.range(cell_splits).select(
                    F.col("id").cast("int").alias("_salt")
                )
            )
        )

    out_schema = StructType(
        [
            StructField(qid_col, queries.schema[qid_col].dataType),
            StructField(id_col, index.schema[id_col].dataType),
            StructField("adc_dist", DoubleType()),
        ]
    )
    empty = pd.DataFrame({qid_col: [], id_col: [], "adc_dist": []})

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left: the queries probing this cell; right: the cell's codes.
        live = right[right[codes_col].notna()]
        if left.empty or live.empty:
            return empty
        ids = live[id_col].to_numpy()
        code_rows = live[codes_col].tolist()
        parts = []
        for qid, qv in zip(left[qid_col], left[qvec_col]):
            table = _adc_table(
                codebooks, np.asarray(qv, dtype=np.float64)
            )
            d = _adc_batch(table, code_rows)
            part = pd.DataFrame(
                {qid_col: qid, id_col: ids, "adc_dist": d}
            )
            # cell-local partial top-k under the FINAL (dist, id) order —
            # any row cut here is dominated by k better rows globally
            parts.append(
                part.sort_values(["adc_dist", id_col]).head(k)
            )
        return pd.concat(parts, ignore_index=True)

    scored = (
        exploded.groupBy(*keys)
        .cogroup(idx.groupBy(*keys))
        .applyInPandas(score, out_schema)
    )
    w = Window.partitionBy(qid_col).orderBy("adc_dist", id_col)
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
