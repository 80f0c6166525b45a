"""Distributed covariance + PCA/whitening for embedding columns.

The classic embedding-hygiene pass before similarity work at corpus scale:
estimate the feature covariance in ONE distributed pass, eigendecompose the
(dim × dim) matrix on the driver — it is tiny regardless of corpus size —
and project/whiten scan-side. SemDeDup-style semantic dedup and IVF both
behave measurably better on whitened vectors when the raw embedding
dimensions are correlated.

Scale shape:

* ``embedding_covariance``: mapInArrow partials — each partition reduces to
  a (dim·(dim+1)/2 + dim + 1)-row integer summary (second moments, first
  moments, count), so the shuffle moves O(partitions · dim²) rows no matter
  how many vectors there are; one keyed aggregate merges partials.
* ``pca_fit``: collects the dim×dim covariance (driver traffic O(dim²)),
  ``numpy.linalg.eigh`` on the driver, deterministic sign convention.
* ``pca_project``: the (k × dim) component matrix rides the UDF closure
  (KBs); projection is one Arrow-batched matmul per batch, zero shuffle.

Cross-engine determinism (the registry's hash conventions): every per-row
product ``x_i·x_j`` is computed in float64 (identical in both engines),
snapped to integer MICROS (``floor(p·1e6 + 0.5)`` as int64), and summed in
exact integer arithmetic — partition-order-independent and replayable in
SQL, so the covariance query is hash-checked, not rows-only. |x| ≤ ~10 ⇒
|micros| ≤ 1e8; int64 overflows only past ~9e10 vectors per partition.
Eigendecomposition is iterative/non-SQL, so the PCA tiers are pinned by
numpy differentials instead (tests/test_pca.py).

Bad rows follow the vector contract of
:mod:`mare_spark.operators.similarity`, whose Arrow reader reads every
batch: the fits raise a ``ValueError`` naming the cause, and
``pca_project`` gives a NULL projection.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mare_spark.numeric import fround
from mare_spark.operators.similarity import _batch_rows, _fit_rows


def _moment_partials(dim: int, vec_col: str):
    """mapInArrow generator: per partition emit integer-micro moment rows —
    (i, j, s) for i<=j second moments, (i, -1, s) first moments,
    (-1, -1, count)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        s2 = np.zeros((dim, dim), dtype=np.int64)
        s1 = np.zeros(dim, dtype=np.int64)
        n = 0
        for batch in batches:
            x = _fit_rows(batch.column(0), dim, vec_col)
            n += x.shape[0]
            s1 += np.floor(x * 1e6 + 0.5).astype(np.int64).sum(axis=0)
            # chunk the outer products so the (rows × dim × dim) tensor
            # stays ~16 MB regardless of Arrow batch size
            step = max(1, (1 << 21) // (dim * dim))
            for lo in range(0, x.shape[0], step):
                c = x[lo:lo + step]
                p = c[:, :, None] * c[:, None, :]
                s2 += np.floor(p * 1e6 + 0.5).astype(np.int64).sum(axis=0)
        ii, jj = np.triu_indices(dim)
        out_i = np.concatenate([ii, np.arange(dim), [-1]]).astype(np.int32)
        out_j = np.concatenate([jj, np.full(dim, -1), [-1]]).astype(np.int32)
        out_s = np.concatenate([s2[ii, jj], s1, [n]]).astype(np.int64)
        yield pa.RecordBatch.from_pydict(
            {"i": out_i, "j": out_j, "s": out_s}
        )

    return gen


def _merged_moments(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """One distributed pass → merged integer-micro moment rows
    (second moments i<=j, first moments (i,-1), count (-1,-1))."""
    partials = df.select(vec_col).mapInArrow(
        _moment_partials(dim, vec_col), "i int, j int, s long"
    )
    return partials.groupBy("i", "j").agg(F.sum("s").alias("s"))


def embedding_covariance(
    df: DataFrame, vec_col: str, dim: int
) -> DataFrame:
    """Population covariance of a fixed-length embedding column:
    ``(dim_i, dim_j, cov)`` over the upper triangle (i ≤ j), from ONE
    distributed pass (see module docstring for the partial shape and the
    integer-micro determinism contract). A full-pass fit: an unusable row
    raises the vector contract's ``ValueError`` rather than skewing the
    estimate silently.

    ``cov_ij = round6( S_ij/n − (S_i/n)·(S_j/n) )`` with every ``S`` an
    exact integer-micro sum — the same double on both engines, so the
    registered query is hash-checked against a full SQL replay.
    """
    merged = _merged_moments(df, vec_col, dim)
    n = merged.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").alias("n")
    )
    m1 = merged.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("d"), F.col("s").alias("s1")
    )
    m2 = merged.filter(F.col("j") >= 0).select("i", "j", "s")
    sd = F.col("s") / F.lit(1e6)
    a = F.col("sa") / F.lit(1e6)
    b = F.col("sb") / F.lit(1e6)
    return (
        m2.join(F.broadcast(m1.selectExpr("d AS i", "s1 AS sa")), "i")
        .join(F.broadcast(m1.selectExpr("d AS j", "s1 AS sb")), "j")
        .join(F.broadcast(n))
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            fround(
                sd / F.col("n") - (a / F.col("n")) * (b / F.col("n")), 6
            ).alias("cov"),
        )
    )


class PCAModel:
    """Driver-side PCA model: ``means`` (dim,), ``components`` (k, dim)
    rows = principal axes sorted by descending eigenvalue, ``eigvals``
    (k,). Deterministic: eigh on the exact covariance from
    :func:`embedding_covariance` (itself partition-order-independent),
    sign fixed so each component's largest-|coord| entry is positive."""

    def __init__(self, means: np.ndarray, components: np.ndarray,
                 eigvals: np.ndarray):
        self.means = means
        self.components = components
        self.eigvals = eigvals

    def explained_variance_ratio(self) -> np.ndarray:
        total = self.eigvals.sum()
        return self.eigvals / total if total > 0 else self.eigvals * 0.0

    def whitened_components(self, eps: float = 1e-9) -> np.ndarray:
        """The (k, dim) projection matrix with per-component unit-variance
        scaling — ONE definition shared by :func:`pca_project` and any
        caller whitening a query vector into the same space (two inline
        copies with independently-chosen eps would silently project
        corpus and query into mismatched spaces)."""
        return self.components / np.sqrt(self.eigvals + eps)[:, None]

    def transform(self, x, *, whiten: bool = False,
                  eps: float = 1e-9) -> np.ndarray:
        """Project one driver-side vector exactly as :func:`pca_project`
        projects the corpus (centering + the same component matrix)."""
        W = self.whitened_components(eps) if whiten else self.components
        return W @ (np.asarray(x, dtype=np.float64) - self.means)


def pca_fit(df: DataFrame, vec_col: str, dim: int, k: int) -> PCAModel:
    """Fit PCA: one distributed covariance pass + a driver-side ``eigh``
    of the dim×dim matrix (O(dim³) on dim≤a few thousand — never
    corpus-scale work). ``k`` top components kept."""
    if not 1 <= k <= dim:
        raise ValueError(f"k must be in [1, {dim}], got {k}")
    # ONE scan, ONE collect: the merged moment rows carry everything —
    # count, first moments (means), second moments (covariance)
    rows = _merged_moments(df, vec_col, dim).collect()
    n = 0
    s1 = np.zeros(dim)
    s2 = np.zeros((dim, dim))
    for r in rows:
        if r.i == -1:
            n = r.s
        elif r.j == -1:
            s1[r.i] = r.s / 1e6
        else:
            s2[r.i, r.j] = s2[r.j, r.i] = r.s / 1e6
    if not n:
        raise ValueError("pca_fit: empty input")
    means = s1 / n
    cov = np.floor((s2 / n - np.outer(means, means)) * 1e6 + 0.5) / 1e6
    means = np.floor(means * 1e6 + 0.5) / 1e6
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:k]
    comps = eigvecs[:, order].T.copy()
    vals = eigvals[order].copy()
    for c in comps:  # deterministic sign: largest-|coord| entry positive
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1.0
    return PCAModel(means, comps, vals)


def pca_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    model: PCAModel,
    *,
    whiten: bool = False,
    eps: float = 1e-9,
    out_col: str = "proj",
) -> DataFrame:
    """Project (and optionally whiten) every vector onto the model's
    components: ``proj = C · (x − mean)``, whitened = per-component
    division by ``sqrt(eigval + eps)``. Arrow-batched matmul, zero
    shuffle; the (k × dim) matrix rides the closure. NULL for an unusable
    vector (the vector contract's row-wise rule)."""
    comps = (
        model.whitened_components(eps) if whiten else model.components
    )
    means = model.means

    def proj(vecs: pa.Array) -> pa.Array:
        return _batch_rows(vecs, len(means), lambda X: (X - means) @ comps.T)

    return df.select(
        F.col(id_col),
        F.arrow_udf(proj, "array<double>")(F.col(vec_col)).alias(out_col),
    )
