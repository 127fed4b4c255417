"""Distance metrics as native Column expressions (JVM-side, codegen-friendly)
plus vectorized numpy twins for the pandas-UDF paths.

Reference: Tsne.scala:161-168 (``getMetric``: sqeuclidean | euclidean |
cosine).  The Column variants keep the distance math inside whole-stage
codegen so the all-pairs kNN plan never crosses into Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def sqeuclidean(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two ARRAY<DOUBLE> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def euclidean(a: Column, b: Column) -> Column:
    return F.sqrt(sqeuclidean(a, b))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine distance: 1 - dot(a,b) / (|a|*|b|)."""
    return F.lit(1.0) - _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


METRICS = {
    "sqeuclidean": sqeuclidean,
    "euclidean": euclidean,
    "cosine": cosine,
}

# Above this dimension the unrolled expression tree gets unwieldy; fall back
# to the higher-order-function formulation.
_UNROLL_MAX_DIM = 256


def _sum_terms(terms: list[Column]) -> Column:
    s = terms[0]
    for t in terms[1:]:
        s = s + t
    return s


# Terms per CSE chunk (see _chunked_sum).  8 keeps every generated method far
# below the JVM's huge-method compile limit.
_CSE_CHUNK = 8


def _chunked_sum(terms: list[Column]) -> Column:
    """Sum of terms, grouped into chunks wrapped as ``nanvl(c, c)``.

    The repeated subtree makes Catalyst's subexpression elimination hoist
    each chunk into its own small generated method.  A single flat 64-term
    chain compiles into one huge method that the JIT refuses to compile
    (-XX:-DontCompileHugeMethods default) and runs INTERPRETED — measured
    25-30x slower on an all-pairs dot product.  ``nanvl(c, c)`` is the
    identity (returns the first argument unless it is NaN — then the second,
    which is the same expression), so results are unchanged; only the
    floating-point association changes vs a flat left fold (chunk sums are
    added left-to-right).
    """
    chunks = []
    for start in range(0, len(terms), _CSE_CHUNK):
        c = _sum_terms(terms[start : start + _CSE_CHUNK])
        chunks.append(F.nanvl(c, c))
    return _sum_terms(chunks)


def sqeuclidean_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Squared Euclidean as an explicit per-index expression sum.

    Higher-order functions (zip_with/aggregate) are evaluated interpreted,
    outside whole-stage codegen; for a known dimension the unrolled form is
    ~5-10x faster on all-pairs workloads.  For dim <= _CSE_CHUNK the fold
    order matches ``sqeuclidean`` bit-for-bit; above that, chunked (see
    ``_chunked_sum``).
    """
    return _chunked_sum([(a[k] - b[k]) * (a[k] - b[k]) for k in range(dim)])


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    return _chunked_sum([a[k] * b[k] for k in range(dim)])


def euclidean_unrolled(a: Column, b: Column, dim: int) -> Column:
    return F.sqrt(sqeuclidean_unrolled(a, b, dim))


def cosine_unrolled(a: Column, b: Column, dim: int) -> Column:
    return F.lit(1.0) - dot_unrolled(a, b, dim) / (
        F.sqrt(dot_unrolled(a, a, dim)) * F.sqrt(dot_unrolled(b, b, dim))
    )


UNROLLED_METRICS = {
    "sqeuclidean": sqeuclidean_unrolled,
    "euclidean": euclidean_unrolled,
    "cosine": cosine_unrolled,
}


def metric_expr(name: str, a: Column, b: Column, dim: int | None = None) -> Column:
    """Distance expression; pass ``dim`` to get the codegen-friendly unrolled
    form (identical FP results)."""
    if dim is not None and 0 < dim <= _UNROLL_MAX_DIM and name in UNROLLED_METRICS:
        return UNROLLED_METRICS[name](a, b, dim)
    try:
        return METRICS[name](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {name!r}; expected one of {sorted(METRICS)}")


# ---------------------------------------------------------------------------
# numpy twins — used inside blocked kNN pandas UDFs, where a whole
# block-vs-block distance matrix is computed at once, and (row-paired) in the
# fused t-SNE kernel's attraction.
# ---------------------------------------------------------------------------


def np_sqeuclidean(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """All-pairs squared Euclidean distances: (n,d) x (m,d) -> (n,m)."""
    aa = np.sum(A * A, axis=1)[:, None]
    bb = np.sum(B * B, axis=1)[None, :]
    d = aa + bb - 2.0 * (A @ B.T)
    np.maximum(d, 0.0, out=d)
    return d


def _np_chunked_fold(d: int, term):
    """Accumulate ``term(k)`` over dims with the SAME association as the
    Column expressions: left fold within chunks of ``_CSE_CHUNK``, chunk sums
    added left-to-right — matching ``_chunked_sum`` bit-for-bit for
    d <= _UNROLL_MAX_DIM, and flat left fold beyond that (where the Column
    path falls back to the flat HOF ``aggregate``)."""
    csize = _CSE_CHUNK if d <= _UNROLL_MAX_DIM else d
    total = None
    for start in range(0, d, csize):
        acc = term(start).copy()
        for k in range(start + 1, min(start + csize, d)):
            acc += term(k)
        total = acc if total is None else total + acc
    return total


def np_sqeuclidean_seq(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """All-pairs squared Euclidean with the Column expressions' accumulation
    order (chunked fold — see ``_np_chunked_fold``/``_chunked_sum``).

    Bit-identical to ``sqeuclidean_unrolled`` (dim <= _UNROLL_MAX_DIM) and
    the ``sqeuclidean`` HOF fold (beyond), unlike the GEMM formulation which
    rounds differently.  Used by ``partition_knn`` so blocked evaluation
    equals brute force exactly (the reference's own guarantee:
    TsneHelpers.scala:61-91 is blocked evaluation, not approximation).
    """

    def term(k):
        d = A[:, k][:, None] - B[:, k][None, :]
        return d * d

    return _np_chunked_fold(A.shape[1], term)


def np_euclidean(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    return np.sqrt(np_sqeuclidean(A, B))


def np_cosine(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    na = np.linalg.norm(A, axis=1)[:, None]
    nb = np.linalg.norm(B, axis=1)[None, :]
    return 1.0 - (A @ B.T) / (na * nb)


def np_euclidean_seq(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    return np.sqrt(np_sqeuclidean_seq(A, B))


def _dot_seq(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    return _np_chunked_fold(
        A.shape[1], lambda k: A[:, k][:, None] * B[:, k][None, :]
    )


def np_cosine_seq(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    def self_dot(X):
        return _np_chunked_fold(X.shape[1], lambda k: X[:, k] * X[:, k])

    na = np.sqrt(self_dot(A))[:, None]
    nb = np.sqrt(self_dot(B))[None, :]
    return 1.0 - _dot_seq(A, B) / (na * nb)


NUMPY_METRICS = {
    "sqeuclidean": np_sqeuclidean,
    "euclidean": np_euclidean,
    "cosine": np_cosine,
}

# Order-exact twins: same FP rounding as the Column expressions.
NUMPY_METRICS_SEQ = {
    "sqeuclidean": np_sqeuclidean_seq,
    "euclidean": np_euclidean_seq,
    "cosine": np_cosine_seq,
}


def numpy_metric(name: str, exact_order: bool = False):
    table = NUMPY_METRICS_SEQ if exact_order else NUMPY_METRICS
    try:
        return table[name]
    except KeyError:
        raise ValueError(f"unknown metric {name!r}; expected one of {sorted(table)}")


# Row-paired twins: distance between A[r] and B[r] for every row r,
# (n,d) x (n,d) -> (n,), with the Column expressions' accumulation order
# (bit-identical to ``metric_expr(name, a, b, dim=d)``).  Used by the fused
# t-SNE kernel, which evaluates one distance per P edge.


def np_sqeuclidean_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    def term(k):
        d = A[:, k] - B[:, k]
        return d * d

    return _np_chunked_fold(A.shape[1], term)


def np_euclidean_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    return np.sqrt(np_sqeuclidean_rows(A, B))


def np_cosine_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    def dot(X, Z):
        return _np_chunked_fold(X.shape[1], lambda k: X[:, k] * Z[:, k])

    return 1.0 - dot(A, B) / (np.sqrt(dot(A, A)) * np.sqrt(dot(B, B)))


NUMPY_ROW_METRICS = {
    "sqeuclidean": np_sqeuclidean_rows,
    "euclidean": np_euclidean_rows,
    "cosine": np_cosine_rows,
}


def numpy_row_metric(name: str):
    try:
        return NUMPY_ROW_METRICS[name]
    except KeyError:
        raise ValueError(
            f"unknown metric {name!r}; expected one of {sorted(NUMPY_ROW_METRICS)}"
        )
