"""Embedding dimensionality reduction: seeded random projection and PCA.

Preprocessing for the similarity/semantic-dedup pipelines at corpus scale:
a 64->16 reduction cuts every downstream GEMM, shuffle row, and broadcast
by 4x, and (for PCA whitening) conditions the space for the cosine/L2
thresholds those pipelines apply.

- ``random_projection``: Johnson-Lindenstrauss Gaussian projection.  The
  d x k matrix is generated ONCE on the driver from a seed (the same
  plan-construction-time constant policy as project_knn's shift vectors,
  SURVEY §3.3) and applied as one numpy GEMM per Arrow batch — no shuffle
  at all, embarrassingly parallel, deterministic given (d, k, seed).
- ``pca_fit`` / ``pca_transform``: exact PCA.  The (mean, covariance)
  sufficient statistics are summed per partition in numpy ((d, d) each)
  and treeReduce-merged executor-side, so the driver sees O(d^2) floats
  regardless of N; the eigendecomposition of the d x d covariance runs on
  the driver (d is the embedding width — tiny), and the transform is the
  same batched GEMM.  Components follow a deterministic sign convention
  (largest-|coordinate| entry positive) so results are reproducible
  across partitionings.

Both transforms are invariant-gated rather than SQL-oracled (a seeded
numpy RNG and an eigensolver are not reproducible in SQL): see
__spark_entry__.q_projection_check.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan


def _gemm_transform(
    emb: DataFrame,
    mat: np.ndarray,
    center: np.ndarray | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    out_cols = f"{id_col} long, {vec_col} array<double>"

    def apply(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v) for v in pdf[vec_col]], dtype=np.float64)
            if center is not None:
                X = X - center[None, :]
            Y = X @ mat
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), vec_col: list(Y)}
            )

    return emb.select(
        F.col(id_col).cast("long").alias(id_col), vec_col
    ).mapInPandas(apply, schema=out_cols)


def random_projection(
    emb: DataFrame,
    k: int,
    seed: int = 0,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, k-dim vector): X @ R with R ~ N(0, 1/k) seeded — the JL
    transform; E[||Rx||^2] = ||x||^2 and pairwise distances are preserved
    within the JL epsilon for k = O(log n / eps^2)."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    R = rng.normal(0.0, 1.0 / np.sqrt(k), (dim, k))
    return _gemm_transform(emb, R, None, id_col, vec_col)


def pca_fit(
    emb: DataFrame,
    k: int,
    dim: int | None = None,
    vec_col: str = "embedding",
) -> dict:
    """Exact PCA model: {"mean": (d,), "components": (d, k),
    "explained_variance": (k,)} — covariance via per-partition numpy
    partials + executor-side treeReduce (driver holds O(d^2) only)."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])

    def part_stats(rows):
        skip_zip_rescan()
        S = np.zeros((dim, dim))
        m = np.zeros(dim)
        n = 0
        X_buf = []
        for r in rows:
            X_buf.append(r[vec_col])
            if len(X_buf) >= 4096:
                X = np.asarray(X_buf, dtype=np.float64)
                S += X.T @ X
                m += X.sum(axis=0)
                n += len(X)
                X_buf = []
        if X_buf:
            X = np.asarray(X_buf, dtype=np.float64)
            S += X.T @ X
            m += X.sum(axis=0)
            n += len(X)
        if n:
            yield (S, m, n)

    stats = emb.select(vec_col).rdd.mapPartitions(part_stats)
    S, m, n = stats.treeReduce(
        lambda a, b: (a[0] + b[0], a[1] + b[1], a[2] + b[2]), depth=2
    )
    mean = m / n
    cov = S / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order]
    # deterministic sign: the largest-|coordinate| entry of each component
    # is made positive (eigh's sign is arbitrary)
    flip = np.sign(comps[np.argmax(np.abs(comps), axis=0), np.arange(len(order))])
    flip[flip == 0] = 1.0
    return {
        "mean": mean,
        "components": comps * flip[None, :],
        "explained_variance": np.maximum(evals[order], 0.0),
        "n": int(n),
    }


def pca_transform(
    emb: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, k-dim vector): (X - mean) @ components."""
    return _gemm_transform(
        emb, model["components"], model["mean"], id_col, vec_col
    )
