"""Similarity search over embedding columns (``array<float>``).

* :func:`brute_force_topk` — exact top-k cosine against a query vector.
  The baseline: one map-only pass (one Arrow UDF stage scoring each batch)
  + ``TakeOrderedAndProject`` (per-partition heap, no global sort). At
  100 TB this is a full scan but zero shuffle — often the right answer for
  a single ad-hoc query.
* :func:`ann_lsh_topk` — approximate top-k via signed-random-projection
  (hyperplane) LSH: bucket the corpus by sign-bit signature, search only
  buckets within a Hamming radius of the query's signature. The scale path
  for repeated queries: candidate set ∝ bucket sizes, not corpus size.
* :func:`ivf_assign` / :func:`ivf_topk` — inverted-file (IVF) ANN: spherical
  k-means centroids trained on a bounded driver-side sample, corpus rows
  assigned to their nearest centroid (Arrow-batched numpy UDF), queries probe
  only the ``nprobe`` nearest cells. At 100 TB the cell id becomes a
  partition column, so a probe is a partition-pruned scan of nprobe/nlist of
  the data.

Every cosine here — exact scans, the LSH/IVF verifies, the exact and IVF
hard-negative tiers — goes through one kernel (:func:`_cosine_kernel`),
whose left-to-right sums are the order the DuckDB oracles' ``list_sum``
folds in, so the oracles check the scale paths too. Every IVF cell
assignment and probe — Lloyd training, corpus assignment, multi-probe
blocking, the driver-side query probe — goes through one rule
(:func:`_nearest_cells`).

Vector contract, for every embedding operator here and in ``pq.py`` and
``pca.py``: a row is *unusable* when the cosine kernel scores it NULL — a
NULL vector, a NULL element, or a length other than the operator's (the
query's, centroids', planes', codebooks' or model's dim). Every batch is
read through :func:`_usable_rows`, and:

1. Row-wise operators give NULL for an unusable row (:func:`_batch_rows`,
   :func:`_batch_values`): cosines, IVF cells, hyperplane signatures, PQ
   and SQ codes and distances, PCA projections. So every probe, block,
   bucket and top-k leaves the row out.
2. Sample trainers (IVF centroids, PQ codebooks) skip it: they draw only
   rows :func:`_usable_vector` passes and keep the sample's most common
   length (:func:`_modal_rows`).
3. Full-pass fits (covariance, PCA, the scalar quantizer) raise a
   ``ValueError`` naming the cause (:func:`_fit_rows`): a fit is defined
   over every row, and dropping one would change the ``n`` that the
   covariance oracle replays in SQL.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mare_spark.numeric import fround

from mare_spark.cache import materialize
from mare_spark.operators.dedup import _bucket_self_join


def _list_columns(arr, rows: np.ndarray, d: int) -> np.ndarray:
    """The ``rows`` of a list array whose vectors all hold ``d`` elements,
    as a (d × len(rows)) float64 matrix: column i is row ``rows[i]``."""
    x = pc.fill_null(arr.values, 0).to_numpy()
    starts = arr.offsets.to_numpy()[rows]
    n = len(starts)
    if n and (starts == starts[0] + d * np.arange(n)).all():
        m = x[starts[0] : starts[0] + n * d].reshape(n, d)  # no gather
    else:
        m = x[starts[:, None] + np.arange(d)]
    return np.ascontiguousarray(m.T, dtype=np.float64)


def _usable_rows(arr) -> tuple[np.ndarray, np.ndarray]:
    """(length, usable) per row of a list array: usable rows are
    non-NULL and hold no NULL element."""
    ok = arr.is_valid().to_numpy(zero_copy_only=False)
    if arr.values.null_count:
        nulls = arr.values.is_null().to_numpy(zero_copy_only=False)
        seen = np.concatenate([[0], np.cumsum(nulls)])
        offs = arr.offsets.to_numpy()
        ok &= seen[offs[1:]] == seen[offs[:-1]]
    return pc.fill_null(pc.list_value_length(arr), -1).to_numpy(), ok


def _fold_sum(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Σ x·y down axis 0, one float64 accumulator per column, added left
    to right — a SQL ``list_sum``'s order (numpy's own sums pair terms
    up, which rounds differently)."""
    acc = np.zeros(np.broadcast_shapes(x.shape[1:], y.shape[1:]))
    for xj, yj in zip(x, y):
        acc += xj * yj
    return acc


def _cosine_kernel(va, vb=None, q: np.ndarray | None = None) -> pa.Array:
    """The one cosine: row i of list array ``va`` against row i of ``vb``,
    or against the fixed vector ``q``. Per row, left-to-right float64
    sums of a·b, a·a and b·b; ``sqrt(Σa²)·sqrt(Σb²)`` as the denominator;
    0.0 when that is 0. NULL when a vector is NULL, holds a NULL element,
    or the lengths differ. Vectorized across the rows of the batch, one
    pass per dimension."""
    len_a, ok = _usable_rows(va)
    if vb is None:
        ok &= len_a == len(q)
    else:
        len_b, ok_b = _usable_rows(vb)
        ok &= ok_b & (len_a == len_b)
    out = np.zeros(len(va))
    for d in np.unique(len_a[ok]):
        rows = np.flatnonzero(ok & (len_a == d))
        a = _list_columns(va, rows, int(d))
        b = q[:, None] if vb is None else _list_columns(vb, rows, int(d))
        den = np.sqrt(_fold_sum(a, a)) * np.sqrt(_fold_sum(b, b))
        with np.errstate(divide="ignore", invalid="ignore"):
            out[rows] = np.where(den == 0.0, 0.0, _fold_sum(a, b) / den)
    return pa.array(out, mask=~ok)


def _scored_rows(vecs, d: int) -> tuple[np.ndarray, np.ndarray]:
    """(usable, X): which rows of list array ``vecs`` the cosine kernel
    scores against a ``d``-element vector, and those rows as a C-ordered
    (rows × d) float64 matrix, one vector per row."""
    lens, ok = _usable_rows(vecs)
    ok &= lens == d
    rows = np.flatnonzero(ok)
    return ok, np.ascontiguousarray(_list_columns(vecs, rows, d).T)


def _batch_rows(vecs, d: int, fn) -> pa.Array:
    """``fn`` over the usable rows of list array ``vecs``
    (:func:`_scored_rows`), as a list array: ``fn`` maps their (rows × d)
    matrix to a (rows × w) matrix, whose rows become the lists. Every
    other row is NULL."""
    ok, X = _scored_rows(vecs, d)
    part = fn(X)
    out = np.zeros((len(vecs), part.shape[1]), dtype=part.dtype)
    out[ok] = part
    offsets = np.arange(len(vecs) + 1, dtype=np.int32) * part.shape[1]
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(out.ravel()), mask=pa.array(~ok)
    )


def _batch_values(vecs, d: int, fn) -> pa.Array:
    """:func:`_batch_rows` for a scorer: ``fn`` maps the same (rows × d)
    matrix to one float64 per row. Every other row is NULL."""
    ok, X = _scored_rows(vecs, d)
    out = np.zeros(len(vecs))
    out[ok] = fn(X)
    return pa.array(out, mask=~ok)


def _fit_rows(vecs, d: int, name: str) -> np.ndarray:
    """Every row of list array ``vecs`` as a (rows × d) float64 matrix,
    for a full-pass fit: the first unusable row raises a ``ValueError``
    naming its cause (a NULL vector, a NULL element, or its length)."""
    ok, X = _scored_rows(vecs, d)
    if not ok.all():
        v = vecs[int(np.argmin(ok))].as_py()
        cause = "a NULL vector" if v is None else (
            "a NULL element" if None in v else f"length {len(v)}"
        )
        raise ValueError(f"{name}: expected fixed-length {d} vectors, "
                         f"got {cause}")
    return X


def _usable_vector(vec_col: str):
    """Spark-side filter for a sample trainer: the vector is non-NULL and
    holds no NULL element."""
    return F.col(vec_col).isNotNull() & ~F.exists(
        vec_col, lambda x: x.isNull()
    )


def _modal_rows(rows: list) -> np.ndarray:
    """The sampled vectors of the sample's most common length, as a
    (rows × d) float64 matrix — shape (0,) for an empty sample."""
    if rows:
        d = Counter(map(len, rows)).most_common(1)[0][0]
        rows = [r for r in rows if len(r) == d]
    return np.array(rows, dtype=np.float64)


def cosine_to_query(vec_col, query_vec: list[float]):
    """Cosine of every row's vector against one fixed query vector, as an
    Arrow UDF over :func:`_cosine_kernel` — the summation the DuckDB
    oracles replay, so exact and approximate scans score alike."""
    q = np.asarray(query_vec, dtype=np.float64)

    def cos(vecs: pa.Array) -> pa.Array:
        return _cosine_kernel(vecs, q=q)

    return F.arrow_udf(cos, "double")(vec_col)


def pairwise_cosine(col_a, col_b):
    """Row-wise cosine of two vector columns (candidate-pair verify), as
    an Arrow UDF over :func:`_cosine_kernel`."""

    def cos(va: pa.Array, vb: pa.Array) -> pa.Array:
        return _cosine_kernel(va, vb)

    return F.arrow_udf(cos, "double")(col_a, col_b)


def hyperplane_signatures(vec_col, planes_per_band: list[np.ndarray]):
    """All band signatures of a vector column at once, as an
    ``array<bigint>`` (one packed sign-bit signature per band), via one
    Arrow-batched matmul against the stacked plane matrix: (batch × dim) @
    (dim × total_bits), signs packed per band with one dot against the bit
    weights. NULL for a row the cosine kernel scores NULL (NULL vector,
    NULL element, length other than the planes' dim)."""
    if any(len(p) > 63 for p in planes_per_band):
        # bit 63 would wrap the int64 signature negative (silently, in
        # the numpy pack)
        raise ValueError("at most 63 planes per band (int64 signature)")
    P = np.vstack(planes_per_band).T.astype(np.float64)  # dim × total_bits
    sizes = [len(p) for p in planes_per_band]
    offsets = np.cumsum([0] + sizes)
    weights = [
        (1 << np.arange(n, dtype=np.uint64)).astype(np.uint64) for n in sizes
    ]

    def pack(m: np.ndarray) -> np.ndarray:
        bits = (m @ P) > 0  # batch × total_bits
        per_band = [
            (bits[:, offsets[i] : offsets[i + 1]].astype(np.uint64) * w).sum(
                axis=1
            )
            for i, w in enumerate(weights)
        ]
        return np.stack(per_band, axis=1).astype(np.int64)

    def sigs(vecs: pa.Array) -> pa.Array:
        return _batch_rows(vecs, P.shape[0], pack)

    return F.arrow_udf(sigs, "array<bigint>")(vec_col)


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine. Deterministic tie-break on the id column.
    NULL vectors score NULL and sort after every real value under DESC
    on both engines."""
    score = cosine_to_query(F.col(vec_col), query_vec)
    return (
        df.select(F.col(id_col), fround(score, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def with_dim_metadata(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Tag an embedding column with its element count in column metadata
    (``{"dim": n}``) so downstream LSH candidate generation can derive the
    dimension from the SCHEMA — zero Spark jobs, no driver-side probe.
    Call once where the corpus is produced/loaded; metadata survives
    selects and joins. Existing metadata keys on the column are MERGED,
    not replaced."""
    existing = dict(df.schema[vec_col].metadata or {})
    existing["dim"] = dim
    return df.withMetadata(vec_col, existing)


def embedding_lsh_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    bands: int = 16,
    bits_per_band: int = 4,
    seed: int = 42,
    dim: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup embedding pairs at scale: banded hyperplane LSH candidates +
    exact-cosine verify (the scale tier of
    :func:`mare_spark.operators.dedup.embedding_cosine_pairs`).

    Each band is an independent ``bits_per_band``-bit sign signature; pairs
    agreeing on ANY band become candidates (never a cross join). For cosine
    s, P(candidate) = 1-(1-(1-θ(s)/π)^bits)^bands — with 16×4 bits, ≈0.94
    at s=0.4 and ≈1-1e-9 at s=0.9. Verified pairs are exact (no false
    positives); recall is tunable via ``bands``.

    Scale: signature computation is map-only expression code; the self-join
    shuffles on (band, bucket) — uniform 4-bit buckets within bands. The
    dominant cost is Σ bucket² per band; raise ``bits_per_band`` to shrink
    buckets for larger corpora (bucket sizes here are STRUCTURAL —
    corpus/2^bits on average — so the bits dial, not a cap, is the primary
    control). ``bucket_cap`` additionally guards the mass-duplication case
    (many identical embeddings agree on every band; AQE can split the
    partition but not shrink the k²/2 candidate output — same rationale as
    the text-LSH caps). Default ``None``: with honest bit sizing, capping
    structural buckets would silently cost recall.
    """

    if dim is None:
        # schema-derived, zero Spark jobs: honored when the caller tagged
        # the column via :func:`with_dim_metadata` (ArrayType itself
        # carries no length); otherwise `dim` must be passed explicitly —
        # candidate generation runs no driver-side head() probe.
        meta = df.schema[vec_col].metadata or {}
        dim = meta.get("dim")
    if dim is None:
        raise ValueError(
            f"embedding dim not derivable from the schema of {vec_col!r} "
            "(ArrayType carries no length) — pass dim=<int> explicitly; "
            "candidate generation must not trigger a driver-side probe job"
        )
    rng = np.random.default_rng(seed)

    planes_per_band = [
        rng.standard_normal((bits_per_band, dim)) for _ in range(bands)
    ]
    # eager build (see materialize): the bucket self-join's exchange
    # sides launch concurrently and would race a cold cache twice
    base = materialize(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    buckets = base.select(
        "id",
        F.posexplode(
            hyperplane_signatures(F.col("v"), planes_per_band)
        ).alias("band", "bucket"),
    )
    cand = _bucket_self_join(buckets, ("band", "bucket"), "id", bucket_cap)
    return _cosine_verify(cand, base, threshold)


def _cosine_verify(cand: DataFrame, vecs: DataFrame, threshold: float) -> DataFrame:
    """Verify candidate pairs ``cand`` (id_a, id_b) by exact cosine over
    ``vecs``' two columns (id, vector): (id_a, id_b, cosine) with cosine
    ≥ ``threshold``, scored by :func:`pairwise_cosine`."""
    return (
        cand.join(vecs.toDF("id_a", "v_a"), "id_a")
        .join(vecs.toDF("id_b", "v_b"), "id_b")
        .withColumn(
            "cosine", fround(pairwise_cosine(F.col("v_a"), F.col("v_b")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def train_ivf_centroids(
    df: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means centroids from a bounded driver-side sample.

    IVF training is classically sample-based: the sample size is fixed
    regardless of corpus size, so the driver pull stays bounded at 100 TB
    (``sample_size`` rows, not a collect of the corpus). Seeds are drawn
    uniformly from the sample, then Lloyd iterations run in numpy on the
    driver, assigning by :func:`_nearest_cells`; the result is a tiny
    (nlist × dim) array that is broadcast into the assignment UDF.
    Deterministic under ``seed``. The sample skips unusable rows (the
    module's vector contract, part 2).

    One bounded action: the sample is a fixed conservative fraction +
    ``limit``, never a ``count()`` of the corpus to size the fraction. If
    the fraction under-fills on a small input, a bounded ``limit`` scan
    stands in — the input is tiny exactly when that scan is cheap.
    """
    vecs = df.select(vec_col).where(_usable_vector(vec_col))
    # Arrow-path driver pull (toPandas) — the .rdd.collect() alternative
    # spins a pickling Python pipeline per job and is several times slower
    rows = (
        vecs.sample(fraction=0.05, seed=seed)
        .limit(sample_size).toPandas()[vec_col].tolist()
    )
    if len(rows) < max(nlist, min(256, sample_size)):
        rows = vecs.limit(sample_size).toPandas()[vec_col].tolist()
    sample = _modal_rows(rows)
    if len(sample) < nlist:
        raise ValueError(
            f"corpus has only {len(sample)} vectors but nlist={nlist} — "
            "lower nlist (fewer cells than rows is meaningless; the "
            "seeder draws nlist distinct rows)"
        )
    sample = _unit_rows(sample)

    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=nlist, replace=False)]
    for _ in range(iters):
        assign = _nearest_cells(sample, centroids, 1)[:, 0]
        for c in range(nlist):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids = _unit_rows(centroids)
    return centroids


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Row-normalize WITHOUT mutating the input (a no-op for spherical
    k-means centroids, which are already unit — but kmeans_refine means
    are not, and an unnormalized centroid would bias cosine assignment
    toward large norms)."""
    m = np.asarray(m, dtype=np.float64)
    return m / np.maximum(np.linalg.norm(m, axis=-1, keepdims=True), 1e-12)


def _nearest_cells(
    unit_rows: np.ndarray, unit_centroids: np.ndarray, p: int
) -> np.ndarray:
    """THE probe rule: each unit row's ``p`` nearest cells by cosine, as
    an (n × p) int32 matrix — its largest dot products with the unit
    centroids, nearest first, ties to the lower cell index (``argmax``
    order for p = 1)."""
    scores = unit_rows @ unit_centroids.T
    return np.argsort(-scores, axis=1, kind="stable")[:, :p].astype(np.int32)


def probe_cells_for(centroids: np.ndarray, query_vec, nprobe: int) -> list:
    """The query's ``nprobe`` nearest IVF cells: the query as one row
    through :func:`_unit_rows` and :func:`_nearest_cells`, the steps
    :func:`_cells_udf` assigns the corpus by."""
    q = _unit_rows(np.asarray(list(query_vec), dtype=np.float64)[None, :])
    return _nearest_cells(q, _unit_rows(centroids), nprobe)[0].tolist()


def _cells_udf(centroids: np.ndarray, p: int):
    """Arrow UDF: each vector's ``p`` nearest cells (:func:`_nearest_cells`)
    as ``array<int>`` — one batch pass, map-only. NULL for a vector the
    cosine kernel scores NULL: a NULL vector, a NULL element, or a length
    other than the centroids' dim."""
    cent = _unit_rows(centroids)

    def nearest(m: np.ndarray) -> np.ndarray:
        return _nearest_cells(_unit_rows(m), cent, p)

    def cells(vecs: pa.Array) -> pa.Array:
        return _batch_rows(vecs, cent.shape[1], nearest)

    return F.arrow_udf(cells, "array<int>")


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Add each row's IVF cell id (nearest centroid by cosine, through
    :func:`_cells_udf`; NULL for a vector the cosine kernel scores NULL).
    Map-only, no shuffle. In production, write the result partitioned by
    ``cell_col`` so probes become partition-pruned scans.
    """
    cells = _cells_udf(centroids, 1)(F.col(vec_col))
    return df.withColumn(cell_col, F.element_at(cells, 1))


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k cosine via an inverted-file index.

    Probes the ``nprobe`` cells whose centroids are nearest the query and
    runs :func:`brute_force_topk` only inside them — candidate set ≈
    nprobe/nlist of the corpus. ``nprobe == nlist`` degenerates to exact
    brute force over the vectors with a cosine (asserted in tests). Pass
    precomputed ``centroids`` to skip training (the repeated-query path).

    Scale: assignment is map-only; the probe filter is a scan-side
    ``IN`` predicate (partition-pruning when the corpus is stored
    partitioned by cell); the only "shuffle" is the final top-k heap merge
    (TakeOrderedAndProject).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            df, nlist=nlist, vec_col=vec_col, seed=seed
        )
    probed = ivf_assign(df, centroids, vec_col=vec_col).filter(
        F.col("ivf_cell").isin(probe_cells_for(centroids, query_vec, nprobe))
    )
    return brute_force_topk(probed, query_vec, k, vec_col, id_col)


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> None:
    """Materialize the corpus as a parquet IVF index: rows assigned to their
    nearest centroid and written ``partitionBy(cell_col)``.

    This is the scale posture the operator docstrings promise: once the cell
    is a *partition column*, a probe is a partition-pruned scan that reads
    only nprobe/nlist of the files — the other cells are never opened.
    Assignment is the map-only Arrow UDF; the write shuffles nothing (each
    task writes its rows into per-cell subdirectories)."""
    ivf_assign(df, centroids, vec_col=vec_col, cell_col=cell_col).write.mode(
        "overwrite"
    ).partitionBy(cell_col).parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 4,
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Top-k probe against a :func:`write_ivf_index` layout.

    The ``isin`` filter on the partition column becomes a scan-side
    PartitionFilter (plan-asserted in tests): only the probed cells' files
    are listed and read. Candidate set ≈ nprobe/nlist of the corpus,
    :func:`brute_force_topk` on top — no shuffle."""
    probed = spark.read.parquet(index_path).filter(
        F.col(cell_col).isin(probe_cells_for(centroids, query_vec, nprobe))
    )
    return brute_force_topk(probed, query_vec, k, vec_col, id_col)


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 12,
    hamming_radius: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k cosine via hyperplane LSH.

    Corpus rows whose signature is within ``hamming_radius`` sign-bit flips
    of the query's signature are candidates; :func:`brute_force_topk`
    scores only them. Recall rises with the radius (radius = num_planes →
    exact over the vectors with a signature).

    Scale: signatures are computed once per corpus row (map-only — in
    production you'd persist them as a column); candidate filtering is a
    scan-side predicate (bit_count ≤ r) that prunes before the expensive
    cosine; no shuffle at all until the final top-k heap merge.
    """
    dim = len(query_vec)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_planes, dim))

    q = np.asarray(query_vec, dtype=np.float64)
    q_sig = 0
    for i, plane in enumerate(planes):
        if float(np.dot(plane, q)) > 0:
            q_sig |= 1 << i

    sig = F.element_at(hyperplane_signatures(F.col(vec_col), [planes]), 1)
    flips = F.bit_count(sig.bitwiseXOR(F.lit(q_sig).cast("long")))
    near = df.filter(flips <= hamming_radius)
    return brute_force_topk(near, query_vec, k, vec_col, id_col)


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    threshold: float = 0.9,
    nprobe_assign: int = 2,
    centroids: np.ndarray | None = None,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster the corpus
    into IVF cells (k-means blocking) and compare vectors only within a
    cell. ``nprobe_assign`` is multi-probe blocking — each vector joins
    its top-p cells, so pairs straddling a cell boundary still meet
    (measured on the fixture at threshold 0.4: recall vs the exact
    all-pairs tier 0.39 / 0.76 / 0.93 for p = 1 / 2 / 3).

    Output: (id_a, id_b, cosine) pairs at ``cosine >= threshold``.
    Compose with :func:`mare_spark.operators.dedup.dedup_clusters` to
    resolve groups and keep one representative per semantic cluster.

    Scale: cost is p² × Σ cell² — blocking is the scale lever: nlist
    grows with the corpus so cells stay bounded (SemDeDup used 50k
    clusters at LAION scale); assignment is the map-only :func:`_cells_udf`
    and the blocking is :func:`~mare_spark.operators.dedup._bucket_self_join`
    on the cell id (distinct id pairs); candidates are verified with
    exact cosine.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            df, nlist=nlist, vec_col=vec_col, seed=seed
        )
    cells = _cells_udf(centroids, max(1, int(nprobe_assign)))
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    blocked = base.select("id", F.explode(cells(F.col("v"))).alias("cell"))
    cand = _bucket_self_join(blocked, ("cell",), "id")
    return _cosine_verify(cand, base, threshold)


def _nearest_centroid(dv, cents) -> "F.Column":
    """(dist2, idx) struct of the nearest centroid for a double-array
    column ``dv``: per-centroid zip_with left-fold squared distance,
    argmin via struct array_min, exact ties broken by centroid index.
    THE single assignment expression — assign_to_centroids and
    kmeans_refine must agree on it by construction."""
    cands = []
    for i, c in enumerate(cents):
        # ONE literal node per centroid (element-wise F.lit unrolling
        # builds k·dim expression nodes — minutes of driver analysis at
        # k=256, dim=1536)
        lit_c = F.lit([float(x) for x in c])
        d2 = F.aggregate(
            F.zip_with(dv, lit_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cands.append(F.struct(d2.alias("d"), F.lit(i).alias("i")))
    return F.array_min(F.array(*cands))


def assign_to_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 8,
    centroids=None,
) -> DataFrame:
    """Deterministic nearest-centroid assignment: every vector gets the
    closest of the first ``k`` vectors (by id order) as its cluster — the
    single-assignment pass shared by k-means iterations, IVF probing and
    topic-mix reporting, isolated here with DETERMINISTIC seed centroids
    so the assignment itself is oracle-checkable (iterative training is
    not; see train_ivf_centroids for the trained tier).

    Returns ``(id, cluster_id, dist2)`` — squared L2 distance to the
    winning centroid, ties broken by centroid index.

    Scale: the k seed vectors are a bounded driver fetch (k rows — the
    same contract as the LSH plane literals); distances are scan-side
    ``zip_with`` + left-fold expression code over one array literal per
    centroid, so the whole pass is zero-shuffle and fuses into the
    preceding scan. The argmin is an ``array_min`` over (dist, idx)
    structs — no join, no window.

    Determinism: each fold runs in element order on engine-identical
    doubles (float32→double is exact), so dist2 is the same IEEE double
    on every engine; struct comparison breaks exact ties by index.
    """
    if centroids is None:
        # bounded k-row driver fetch for the deterministic seed tier;
        # pass `centroids` explicitly to assign against trained ones
        # (kmeans_refine / train_ivf_centroids output). NULL vectors are
        # skipped: a seed must be a vector, and a NULL row in the first k
        # would otherwise fail the query build
        centroids = [
            list(r[0])
            for r in df.filter(F.col(vec_col).isNotNull())
            .orderBy(id_col).select(vec_col).head(k)
        ]
    cents = [list(c) for c in centroids]
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    best = _nearest_centroid(dv, cents)
    # rows with no vector have no nearest centroid and are left out: the
    # NULL-poisoned fold would hand them cluster 0 with NULL dist2 via
    # the nulls-first struct array_min (the oracle filters them alike)
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        best["i"].alias("cluster_id"),
        fround(best["d"], 6).alias("dist2"),
    )


def kmeans_refine(
    df: DataFrame,
    vec_col: str,
    init_centroids: np.ndarray,
    *,
    iters: int = 3,
) -> np.ndarray:
    """Distributed Lloyd refinement: improve centroids on the FULL corpus
    (train_ivf_centroids is sample-based — the right default; this is the
    refinement tier for when the sample's centroids must be polished
    against every vector, e.g. before freezing an IVF index).

    Per iteration: scan-side nearest-centroid assignment (centroid
    literals, zero shuffle — the same expression as assign_to_centroids),
    then per-(cluster, dimension) mean via posexplode + one keyed
    aggregate — plan size stays O(1) in dimension (the per-dim-column
    alternative bakes `dim` aggregate expressions into the plan, which
    at 1536-dim unrolls into codegen too large to compile).
    Driver traffic per iteration: the (k × dim) mean table — KBs.

    Empty clusters keep their previous centroid. Returns the refined
    (k × dim) float64 array; Lloyd guarantees within-cluster SSE is
    non-increasing per iteration (pinned by test).
    """
    init_centroids = np.asarray(init_centroids)
    k, dim = init_centroids.shape
    # float64 regardless of seed dtype: writing means back into a float32/
    # int array truncates every iteration and can even break the Lloyd
    # SSE-descent invariant with integer seeds
    cents = init_centroids.astype(np.float64, copy=True)
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    for _ in range(iters):
        assigned = df.select(
            _nearest_centroid(dv, cents)["i"].alias("cid"),
            dv.alias("v"),
        )
        means = (
            assigned.select("cid", F.posexplode("v").alias("dim_idx", "x"))
            .groupBy("cid", "dim_idx")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        for r in means:
            cents[r.cid, r.dim_idx] = r.m
    return cents


def hard_negatives(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 1,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor,
    the ``k`` most-cosine-similar vectors with a DIFFERENT label —
    exactly the pairs a contrastive objective learns most from
    (similar-looking, semantically distinct).

    This is the EXACT tier: an all-pairs theta self-join on label
    inequality (O(N²) BroadcastNestedLoop — allowlisted like the other
    exact embedding tiers) + a per-anchor top-k window. Inputs too large
    for it take :func:`hard_negatives_ivf`, which blocks candidates
    through the anchor's probed IVF cells (keyed equi-join, no cartesian)
    and is pinned to this tier by recall tests.

    Output: ``(anchor_id, neg_id, cosine, rnk)``, ties broken on
    (cosine desc, neg_id asc) — deterministic across layouts.
    """
    base = df.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("lbl"),
        F.col(vec_col).alias("v"),
    )
    a = base.withColumnsRenamed(
        {"vid": "anchor_id", "lbl": "anchor_label", "v": "v_a"}
    )
    b = base.withColumnsRenamed(
        {"vid": "neg_id", "lbl": "neg_label", "v": "v_b"}
    )
    return _top_negatives(
        a.join(b, F.col("anchor_label") != F.col("neg_label")), k
    )


def _top_negatives(pairs: DataFrame, k: int) -> DataFrame:
    """Per anchor, the ``k`` candidate ``pairs`` (anchor_id, neg_id, v_a,
    v_b) of highest cosine, ranked (cosine desc, neg_id asc):
    ``(anchor_id, neg_id, cosine, rnk)``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("neg_id")
    )
    return (
        pairs.withColumn(
            "cosine", fround(pairwise_cosine(F.col("v_a"), F.col("v_b")), 6)
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("anchor_id", "neg_id", "cosine", "rnk")
    )


def hard_negatives_ivf(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 1,
    nlist: int = 16,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
    seed: int = 42,
) -> DataFrame:
    """Scale tier of :func:`hard_negatives`: candidates are blocked
    through the IVF index — each anchor explodes its ``nprobe`` nearest
    cells and equi-joins vectors ASSIGNED to those cells, so the pair
    space is ~nprobe/nlist of N² and the join is KEYED (hash exchange on
    the cell id — no cartesian, AQE splits hot cells). Exact cosine
    verify + the same per-anchor top-k window. ``nprobe == nlist``
    degenerates to the exact tier over the vectors with a cosine (pinned
    by test); below it, recall follows the usual IVF dial.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            df, nlist=nlist, vec_col=vec_col, seed=seed
        )
    anchors = df.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).alias("v_a"),
        F.explode(_cells_udf(centroids, nprobe)(F.col(vec_col))).alias("cell"),
    )
    negs = ivf_assign(df, centroids, vec_col=vec_col, cell_col="cell").select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        F.col(vec_col).alias("v_b"),
        "cell",
    )
    pairs = (
        anchors.join(negs, "cell")
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .drop("cell")
        .dropDuplicates(["anchor_id", "neg_id"])  # multi-probe overlap
    )
    return _top_negatives(pairs, k)


def cluster_balanced_sample(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k_clusters: int = 8,
    per_cluster: int,
    centroids=None,
    salt: str = "",
) -> DataFrame:
    """Diversity sampling: exactly min(per_cluster, cluster size) rows
    from every embedding cluster — nearest-centroid assignment composed
    with the deterministic fixed-k sampler, so a dense topic can't
    dominate the selection the way it dominates a uniform sample
    (the DataComp-style cluster-balanced subset builder).

    ``centroids=None`` uses the first ``k_clusters`` vectors by id as
    deterministic seeds (oracle-checkable); pass ``kmeans_refine`` output
    for trained clusters. Returns ``(id, cluster_id, sample_rank)``.

    Scale: assignment is the zero-shuffle scan-side fold of
    :func:`assign_to_centroids`; selection is ONE exchange keyed on
    cluster_id whose map tasks pre-trim to per_cluster rows each
    (WindowGroupLimit) — no full-cluster sort anywhere.
    """
    from mare_spark.operators.corpus import group_fixed_k_sample

    assigned = assign_to_centroids(
        df, vec_col, id_col, k=k_clusters, centroids=centroids
    )
    return group_fixed_k_sample(
        assigned, id_col, group_col="cluster_id", k=per_cluster, salt=salt
    )
