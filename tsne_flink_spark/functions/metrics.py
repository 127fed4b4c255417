"""Distance metrics as native Column expressions (JVM-side, codegen-friendly)
plus vectorized numpy twins for the Arrow-batched Python kernels.

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
    return _lookup(METRICS, name)(a, b)


def _non_finite(x: Column) -> Column:
    return F.isnan(x) | (F.abs(x) == F.lit(float("inf")))


def checked_point(
    op: str, point: Column, values: Column, metric: str | None = None
) -> Column:
    """``values`` as they are, or a failed query naming ``point``'s id.

    ``values`` is a point's ARRAY<DOUBLE> features, or (``metric=None``) one
    DOUBLE distance of the point.  Any NaN/inf fails; so, with ``metric=
    "cosine"``, does an all-zero feature vector (its distances are 0/0).
    Evaluated in the projection that carries ``values``: no job of its own.
    """
    def fail(what: str) -> Column:
        return F.raise_error(
            F.concat(F.lit(f"{op}: point id "), point.cast("string"), F.lit(f" has {what}"))
        )

    if metric is None:
        return F.when(_non_finite(values), fail("a non-finite distance")).otherwise(values)
    out = F.when(F.exists(values, _non_finite), fail("a non-finite feature"))
    if metric == "cosine":
        out = out.when(
            ~F.exists(values, lambda x: x != 0),
            fail('a zero-norm feature vector (metric="cosine")'),
        )
    return out.otherwise(values)


# ---------------------------------------------------------------------------
# numpy twins, bit-identical to ``metric_expr(name, a, b, dim=d)``: all-pairs
# inside the blocked kNN kernel, row-paired in the fused t-SNE kernel's
# attraction (one distance per P edge).
# ---------------------------------------------------------------------------


def _fold_into(a_cols, b_cols, term, out: np.ndarray) -> np.ndarray:
    """``out`` = the sum over dims k of ``term(a_cols[k], b_cols[k])``, with
    the SAME association as the Column expressions: left fold within chunks
    of ``_CSE_CHUNK``, chunk sums added left to right — ``_chunked_sum``
    bit-for-bit for d <= _UNROLL_MAX_DIM, and a flat left fold beyond (where
    the Column path falls back to the flat HOF ``aggregate``).  In place:
    ``term(a, b, dst)`` writes into ``dst``, and chunk 0 folds straight into
    ``out``."""
    d = len(a_cols)
    csize = _CSE_CHUNK if d <= _UNROLL_MAX_DIM else d
    tmp = np.empty_like(out)
    acc = np.empty_like(out) if d > csize else None
    for start in range(0, d, csize):
        dst = out if start == 0 else acc
        term(a_cols[start], b_cols[start], dst)
        for k in range(start + 1, min(start + csize, d)):
            term(a_cols[k], b_cols[k], tmp)
            dst += tmp
        if start:
            out += acc
    return out


def _sq_diff(a, b, out):
    np.subtract(a, b, out=out)
    np.multiply(out, out, out=out)


def _product(a, b, out):
    np.multiply(a, b, out=out)


# Row tile of the all-pairs fold: 2^15 doubles (256 KB) of accumulator
# stay in L2.
_TILE_ELEMS = 1 << 15


def _pairwise(A: np.ndarray, B: np.ndarray, term) -> np.ndarray:
    """(n,d) x (m,d) -> (n,m), folded over row tiles of A."""
    AT, BT = np.ascontiguousarray(A.T), np.ascontiguousarray(B.T)
    out = np.empty((len(A), len(B)))
    step = max(1, _TILE_ELEMS // max(len(B), 1))
    for r0 in range(0, len(A), step):
        _fold_into(AT[:, r0:r0 + step, None], BT, term, out[r0:r0 + step])
    return out


def _rows(A: np.ndarray, B: np.ndarray, term) -> np.ndarray:
    """(n,d) x (n,d) -> (n,): row r of A against row r of B."""
    return _fold_into(A.T, B.T, term, np.empty(len(A)))


def _norms(X: np.ndarray) -> np.ndarray:
    return np.sqrt(_rows(X, X, _product))


def np_sqeuclidean(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """All-pairs squared Euclidean distances.  Used by ``partition_knn`` so
    blocked evaluation equals brute force exactly (the reference's own
    guarantee: TsneHelpers.scala:61-91 is blocked evaluation, not
    approximation); a GEMM formulation rounds differently."""
    return _pairwise(A, B, _sq_diff)


def np_euclidean(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    D = np_sqeuclidean(A, B)
    return np.sqrt(D, out=D)


def np_cosine(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    D = _pairwise(A, B, _product)
    np.divide(D, _norms(A)[:, None] * _norms(B)[None, :], out=D)
    return np.subtract(1.0, D, out=D)


def np_sqeuclidean_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    return _rows(A, B, _sq_diff)


def np_euclidean_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    return np.sqrt(np_sqeuclidean_rows(A, B))


def np_cosine_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    return 1.0 - _rows(A, B, _product) / (_norms(A) * _norms(B))


NUMPY_METRICS = {
    "sqeuclidean": np_sqeuclidean,
    "euclidean": np_euclidean,
    "cosine": np_cosine,
}

NUMPY_ROW_METRICS = {
    "sqeuclidean": np_sqeuclidean_rows,
    "euclidean": np_euclidean_rows,
    "cosine": np_cosine_rows,
}


def _lookup(table: dict, name: str):
    try:
        return table[name]
    except KeyError:
        raise ValueError(f"unknown metric {name!r}; expected one of {sorted(table)}")


def numpy_metric(name: str):
    return _lookup(NUMPY_METRICS, name)


def numpy_row_metric(name: str):
    return _lookup(NUMPY_ROW_METRICS, name)
