"""PCA whitening: exact fixed-point moments vs NumPy, model fit vs
numpy.eigh on the same quantized matrix, whitened covariance ~ identity,
and kernel/partitioning determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from duwamish_spark.functions import (
    embedding_moments,
    pca_whitening_model,
    whiten_embeddings,
)

D = 8
N = 300


def _emb_df(spark, seed=5, n=N, d=D):
    rng = np.random.default_rng(seed)
    # anisotropic on purpose: dimension k has scale ~ (k+1)
    x = rng.standard_normal((n, d)) * np.arange(1, d + 1)
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        x.astype(np.float32).astype(np.float64),
    )


def test_moments_match_numpy_exactly(spark):
    df, x = _emb_df(spark)
    got = {
        (r["i"], r["j"]): (r["n"], r["s_i"], r["s_j"], int(r["s_ij"]))
        for r in embedding_moments(df).collect()
    }
    # python ints before multiplying: exact, no float/int64 overflow
    q = np.floor(x * 1e6).astype(np.int64).astype(object)
    for (i, j), (n, si, sj, sij) in got.items():
        assert n == N
        assert si == int(q[:, i].sum())
        assert sj == int(q[:, j].sum())
        assert sij == int((q[:, i] * q[:, j]).sum())
    assert len(got) == D * (D + 1) // 2


def test_moments_partition_invariant(spark):
    df, _ = _emb_df(spark)
    a = sorted(map(tuple, embedding_moments(df).collect()))
    b = sorted(map(tuple, embedding_moments(df.repartition(13)).collect()))
    assert a == b


def test_model_matches_numpy_eigh(spark):
    df, x = _emb_df(spark)
    m = pca_whitening_model(spark, df)
    q = np.floor(x * 1e6)
    mean = q.mean(axis=0)
    cov = (q.T @ q / len(q) - np.outer(mean, mean)) / 1e12
    ev, _ = np.linalg.eigh(cov)
    assert np.allclose(m.eigvals, ev, atol=1e-12)
    assert np.allclose(m.mean, mean / 1e6)
    # eigvals reflect the anisotropy we baked in
    assert m.eigvals[-1] / m.eigvals[0] > 10


def test_whitened_covariance_is_identity(spark):
    df, _ = _emb_df(spark)
    m = pca_whitening_model(spark, df)
    out = whiten_embeddings(df, m)
    w = np.vstack(out.toPandas()["embedding"].to_numpy()).astype(np.float64)
    assert np.allclose(np.cov(w.T, bias=True), np.eye(D), atol=1e-2)


def test_whiten_out_col_preserves_original(spark):
    df, _ = _emb_df(spark)
    m = pca_whitening_model(spark, df)
    out = whiten_embeddings(df, m, out_col="white")
    assert set(out.columns) == {"vec_id", "embedding", "white"}
    row = out.where(F.col("vec_id") == 0).collect()[0]
    orig = df.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    assert row["embedding"] == orig


def test_empty_table_raises(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        pca_whitening_model(spark, df)


def test_whitening_recovers_planted_twins(spark):
    """The regime whitening exists for: planted neighbor pairs obscured
    by shared anisotropic (rogue-dimension) noise — raw cosine misses
    them, whitened cosine recovers them (the LSH pipeline at scale runs
    the same regime; brute-force miniature here)."""
    from duwamish_spark.functions.similarity import knn_cosine

    rng = np.random.default_rng(7)
    n_pairs, d, r = 60, 16, 2
    sig = rng.standard_normal((n_pairs, d))
    twin = sig + 0.3 * rng.standard_normal((n_pairs, d))
    x = np.vstack([sig, twin])
    basis = np.linalg.qr(rng.standard_normal((d, r)))[0]
    x = x + (rng.standard_normal((2 * n_pairs, r)) * 10.0) @ basis.T
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(2 * n_pairs)],
        "vec_id long, embedding array<float>",
    )
    m = pca_whitening_model(spark, emb)
    w = whiten_embeddings(emb, m, out_col="_white")

    def rate(col):
        top1 = knn_cosine(w, 1, "vec_id", col, strategy="brute")
        return sum(
            1
            for row in top1.collect()
            if row["neighbor_id"] == (row["vec_id"] + n_pairs) % (2 * n_pairs)
        ) / (2 * n_pairs)

    raw, white = rate("embedding"), rate("_white")
    assert white > 0.9
    assert raw < 0.5


def test_ivf_quantize_vec_col_decouples_spaces(spark):
    """IVF's quantize_vec_col mirrors LSH's bucket_vec_col: quantization
    over the whitened copy, scoring unchanged. Defaults must equal the
    undecoupled call; decoupled quantization must still return k rows
    per query with raw-cosine scores."""
    from duwamish_spark.functions.similarity import knn_cosine_ivf

    df, _ = _emb_df(spark, seed=9, n=80)
    m = pca_whitening_model(spark, df)
    w = whiten_embeddings(df, m, out_col="_white")

    base = {
        (r["vec_id"], r["knn_rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in knn_cosine_ivf(df, 2, 8, 8).collect()
    }
    # n_probe == n_centroids -> brute within quantization, so decoupling
    # the quantization space cannot change the result set
    dec = {
        (r["vec_id"], r["knn_rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in knn_cosine_ivf(
            w, 2, 8, 8, quantize_vec_col="_white"
        ).collect()
    }
    assert base == dec
