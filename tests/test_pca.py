"""Covariance / PCA / whitening differentials vs numpy on the collected
vectors (the eigendecomposition tiers are rows-only at the driver gate —
these tests are their oracle)."""

from __future__ import annotations

import numpy as np
import pytest

from mare_spark.operators.pca import (
    embedding_covariance,
    pca_fit,
    pca_project,
)

DIM = 6
N = 400


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.RandomState(11)
    # correlated data: latent 2-factor structure + noise, so PCA has
    # something real to find
    latent = rng.randn(N, 2)
    mix = rng.randn(2, DIM)
    x = latent @ mix + 0.1 * rng.randn(N, DIM) + rng.randn(DIM)
    rows = [(i, [float(v) for v in x[i]]) for i in range(N)]
    return (
        spark.createDataFrame(rows, f"vec_id long, embedding array<double>"),
        x,
    )


def test_covariance_matches_numpy(vec_df):
    df, x = vec_df
    got = np.zeros((DIM, DIM))
    for r in embedding_covariance(df, "embedding", DIM).collect():
        got[r.dim_i, r.dim_j] = got[r.dim_j, r.dim_i] = r.cov
    want = np.cov(x, rowvar=False, bias=True)  # population covariance
    # integer-micro snapping of per-row products bounds the drift
    assert np.abs(got - want).max() < 1e-4


def test_covariance_layout_independent(vec_df):
    df, _ = vec_df
    a = sorted(map(tuple, embedding_covariance(df, "embedding", DIM).collect()))
    b = sorted(
        map(
            tuple,
            embedding_covariance(
                df.repartition(13), "embedding", DIM
            ).collect(),
        )
    )
    assert a == b  # bit-identical, not just close


def test_covariance_rejects_malformed_vectors(spark):
    """Full-pass fits are defined over every row (the vector contract in
    the similarity module docstring): a wrong length, a NULL vector or a
    NULL element raises one ValueError naming the cause, from the
    covariance, the PCA fit and the scalar-quantizer fit alike."""
    from mare_spark.operators.pq import fit_scalar_quantizer

    fits = (
        lambda df: embedding_covariance(df, "embedding", 2).collect(),
        lambda df: pca_fit(df, "embedding", 2, k=1),
        lambda df: fit_scalar_quantizer(df, "embedding", 2),
    )
    for bad, cause in (
        ([1.0, 2.0, 3.0], "length 3"),
        (None, "a NULL vector"),
        ([None, 2.0], "a NULL element"),
    ):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, bad)],
            "vec_id long, embedding array<double>",
        )
        for fit in fits:
            with pytest.raises(
                Exception,
                match=f"ValueError: embedding: expected fixed-length 2 "
                f"vectors, got {cause}",
            ):
                fit(df)


def test_pca_matches_numpy_eigh(vec_df):
    df, x = vec_df
    model = pca_fit(df, "embedding", DIM, k=3)
    cov = np.zeros((DIM, DIM))
    for r in embedding_covariance(df, "embedding", DIM).collect():
        cov[r.dim_i, r.dim_j] = cov[r.dim_j, r.dim_i] = r.cov
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:3]
    assert np.allclose(model.eigvals, vals[order], atol=1e-9)
    for got_c, want_c in zip(model.components, vecs[:, order].T):
        # eigenvectors match up to sign; the model pins the sign
        assert np.allclose(np.abs(got_c), np.abs(want_c), atol=1e-6)
        assert got_c[np.argmax(np.abs(got_c))] > 0
    # eigenvalues sorted descending and the 2-factor structure dominates
    assert model.eigvals[0] >= model.eigvals[1] >= model.eigvals[2]
    assert model.explained_variance_ratio()[:2].sum() > 0.9


def test_projection_and_whitening(vec_df):
    df, x = vec_df
    model = pca_fit(df, "embedding", DIM, k=3)
    rows = pca_project(df, "embedding", "vec_id", model).collect()
    got = np.array([r.proj for r in sorted(rows, key=lambda r: r.vec_id)])
    want = (x - model.means) @ model.components.T
    assert np.abs(got - want).max() < 1e-9

    wrows = pca_project(
        df, "embedding", "vec_id", model, whiten=True
    ).collect()
    w = np.array([r.proj for r in sorted(wrows, key=lambda r: r.vec_id)])
    wcov = np.cov(w, rowvar=False, bias=True)
    # whitened components: unit variance, mutually decorrelated
    assert np.abs(np.diag(wcov) - 1.0).max() < 1e-2
    off = wcov - np.diag(np.diag(wcov))
    assert np.abs(off).max() < 1e-2


def test_pca_fit_validates(spark, vec_df):
    df, _ = vec_df
    with pytest.raises(ValueError, match="k must be"):
        pca_fit(df, "embedding", DIM, k=0)
    empty = spark.createDataFrame([], f"vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        pca_fit(empty, "embedding", DIM, k=2)


def test_sim_topk_whitened_equals_numpy(spark):
    """End-to-end numpy differential for the registered whitened-cosine
    row: recompute PCA whitening + cosine top-k from the raw fixture in
    pure numpy and demand the identical (id, rounded-cosine) rows."""
    import numpy as np

    from mare_spark.registry import all_queries
    from mare_spark.tables import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    data = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    ids = sorted(data)
    X = np.stack([data[i] for i in ids])
    n, dim = X.shape

    # the operator's integer-micro moment contract, replayed exactly:
    # raw float64 products snapped to integer micros, summed exactly
    s1 = np.floor(X * 1e6 + 0.5).astype(np.int64).sum(axis=0)
    P = X[:, :, None] * X[:, None, :]
    s2 = np.floor(P * 1e6 + 0.5).astype(np.int64).sum(axis=0)
    means = s1 / 1e6 / n
    cov = np.floor((s2 / 1e6 / n - np.outer(means, means)) * 1e6 + 0.5) / 1e6
    means = np.floor(means * 1e6 + 0.5) / 1e6
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:16]
    comps = eigvecs[:, order].T.copy()
    vals = eigvals[order]
    for c in comps:
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1.0
    W = comps / np.sqrt(vals + 1e-9)[:, None]

    qid = ids[0]
    wq = W @ (data[qid] - means)
    P = (X - means) @ W.T
    cos = (P @ wq) / (
        np.linalg.norm(P, axis=1) * max(np.linalg.norm(wq), 1e-300)
    )
    cand = [
        (round(float(c), 6), i) for c, i in zip(cos, ids) if i != qid
    ]
    cand.sort(key=lambda t: (-t[0], t[1]))
    want = [(i, c) for c, i in cand[:20]]

    got = [
        (r.vec_id, r.wcosine)
        for r in all_queries()["sim_topk_whitened"].fn(spark, SF_SMOKE).collect()
    ]
    assert got == want
