"""Output checks.  Each returns a list of problems; an empty list passes.

The t-SNE oracle replays a short fit in NumPy from the engine's own initial
embedding.  At 2 iterations it agrees with the engine to ~1e-13 (relative);
a 1 % change of the learning rate moves the result by ~2e-2, and theta 0.25
instead of 0.5 by ~7e-8.

The dedup oracles are pure Python and re-derive the full expected pair sets
and their values from the raw texts, with the engine's shingle rule (``pipeline.dedup.shingles``):
lower-case, split on whitespace runs, drop empty tokens, distinct word
n-grams; a document shorter than n tokens is one shingle.
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from tsne_flink_spark.operators.ndtree import build_ndtree

_WS = re.compile(r"\s+")

REPLAY_RTOL = 1e-9  # replay agreement, relative to the largest coordinate
BISECTION_TOL = 1e-5  # entropy tolerance of the perplexity bisection
BISECTION_STEPS = 50
MIN_GAIN = 0.01


def shingle_set(text: str, n: int) -> frozenset[str]:
    toks = [t for t in _WS.split(text.lower()) if t != ""]
    last = max(len(toks) - n, 0)
    return frozenset(" ".join(toks[i:i + n]) for i in range(last + 1))


class ShingleOracle:
    """Memoized shingle sets of one corpus, for one n."""

    def __init__(self, texts: list[str], n: int):
        self._texts = texts
        self._n = n
        self._cache: dict[int, frozenset[str]] = {}

    def __call__(self, doc: int) -> frozenset[str]:
        sh = self._cache.get(doc)
        if sh is None:
            sh = self._cache[doc] = shingle_set(self._texts[doc], self._n)
        return sh

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = self(a), self(b)
        inter = len(sa & sb)
        return inter / max(len(sa) + len(sb) - inter, 1)

    def containment(self, container: int, contained: int) -> float:
        """|Sa & Sb| / |Sb|, rounded half-up to 6 places like Spark's round."""
        sa, sb = self(container), self(contained)
        c = len(sa & sb) / len(sb)
        return float(Decimal(repr(c)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def check_embedding(
    ids: np.ndarray, y: np.ndarray, want_ids: np.ndarray, y_ref: np.ndarray
) -> list[str]:
    """One finite row per id, no duplicates, every component centred within
    1e-6, and every coordinate within ``REPLAY_RTOL`` (relative to the
    largest reference coordinate) of the NumPy replay ``y_ref`` (rows by
    id)."""
    problems = []
    if len(ids) != len(np.unique(ids)):
        problems.append("duplicate ids")
    if not np.array_equal(np.sort(ids), np.sort(want_ids)):
        problems.append(f"id set differs: {len(ids)} rows for {len(want_ids)} ids")
        return problems
    if not np.isfinite(y).all():
        problems.append("non-finite coordinates")
        return problems
    mean = np.abs(y.mean(axis=0))
    if (mean > 1e-6).any():
        problems.append(f"not centred: |mean| = {mean.max():.3g}")
    err = np.abs(y - y_ref[ids]).max() / np.abs(y_ref).max()
    if not err <= REPLAY_RTOL:
        problems.append(f"differs from the NumPy replay by {err:.3g} (relative)")
    return problems


# ---------------------------------------------------------------------------
# NumPy replay of a short t-SNE fit
# ---------------------------------------------------------------------------


def exact_knn(x: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(neighbours, squared distances), each (n, k): brute force, self
    excluded, ties broken by neighbour id."""
    n = len(x)
    nbrs = np.empty((n, k), dtype=np.int64)
    dists = np.empty((n, k))
    for lo in range(0, n, 128):
        blk = x[lo:lo + 128]
        d = ((blk[:, None, :] - x[None, :, :]) ** 2).sum(axis=2)
        d[np.arange(len(blk)), np.arange(lo, lo + len(blk))] = np.inf
        idx = np.argsort(d, axis=1, kind="stable")[:, :k]
        nbrs[lo:lo + len(blk)] = idx
        dists[lo:lo + len(blk)] = np.take_along_axis(d, idx, axis=1)
    return nbrs, dists


def conditional_p(dists: np.ndarray, perplexity: float) -> np.ndarray:
    """P(j|i) per row of kNN squared distances: bisect each row's Gaussian
    precision until the entropy is within ``BISECTION_TOL`` of
    log(perplexity), doubling or halving while a bound is open, for at most
    ``BISECTION_STEPS`` steps."""
    target = np.log(perplexity)
    n = len(dists)
    beta = np.ones(n)
    lo = np.full(n, -np.inf)
    hi = np.full(n, np.inf)
    done = np.zeros(n, dtype=bool)

    def entropy(b):
        p = np.exp(-dists * b[:, None])
        total = p.sum(axis=1)
        total = np.where(total == 0.0, 1e-7, total)
        return p, total, np.log(total) + b * (dists * p).sum(axis=1) / total

    for _ in range(BISECTION_STEPS):
        if done.all():
            break
        _, _, h = entropy(beta)
        converged = np.abs(h - target) < BISECTION_TOL
        active = ~done & ~converged
        done |= converged
        up = active & (h > target)
        down = active & ~(h > target)
        new = beta.copy()
        new[up] = np.where(np.isinf(hi[up]), beta[up] * 2.0, (beta[up] + hi[up]) / 2.0)
        new[down] = np.where(np.isinf(lo[down]), beta[down] / 2.0,
                             (beta[down] + lo[down]) / 2.0)
        lo[up] = beta[up]
        hi[down] = beta[down]
        beta = new
    p, total, _ = entropy(beta)
    return p / total[:, None]


def tsne_replay(
    x: np.ndarray, y0: np.ndarray, iterations: int, perplexity: float, k: int,
    theta: float, condition: str, learning_rate: float, exaggeration: float,
    momentum: float,
) -> np.ndarray:
    """The embedding after ``iterations`` early-exaggeration steps (at most
    20, so momentum stays at its initial value) from ``y0``: exact kNN,
    perplexity-calibrated P(j|i), symmetrized joint P, and per step the
    attraction over P's edges, Barnes-Hut repulsion from the engine's
    NDTree, the momentum + adaptive-gain update, and centring."""
    if iterations > 20:
        raise ValueError("the replay covers the initial-momentum phase only")
    n = len(x)
    nbrs, dists = exact_knn(x, k)
    cond = conditional_p(dists, perplexity)
    rows = np.repeat(np.arange(n), k)
    cols = nbrs.ravel()
    # joint P over the union of (i, j) and (j, i) edges
    keys = np.concatenate([rows * n + cols, cols * n + rows])
    vals = np.concatenate([cond.ravel(), cond.ravel()])
    uniq, inv = np.unique(keys, return_inverse=True)
    joint = np.bincount(inv, weights=vals)
    joint = np.maximum(joint / max(joint.sum(), 4.9e-324), 4.9e-324) * exaggeration
    pi, pj = uniq // n, uniq % n

    y = y0.copy()
    grad = np.zeros_like(y)
    gains = np.ones_like(y)
    for _ in range(iterations):
        forces, sumq = build_ndtree(y).repulsive_forces(y, theta, condition=condition)
        diff = y[pi] - y[pj]
        q = 1.0 / (1.0 + (diff * diff).sum(axis=1))
        attr = np.zeros_like(y)
        np.add.at(attr, pi, (joint * q)[:, None] * diff)
        dy = attr - forces / sumq.sum()
        same = (dy > 0) == (grad > 0)
        gains = np.maximum(np.where(same, gains * 0.8, gains + 0.2), MIN_GAIN)
        grad = momentum * grad - learning_rate * gains * dy
        y = y + grad
        y = y - y.mean(axis=0)
    return y


def jaccard_pairs(oracle: ShingleOracle, n_docs: int, threshold: float) -> dict:
    """{(a, b): Jaccard} for every pair a < b with exact Jaccard >=
    threshold, over all pairs (a pair whose sizes differ by more than the
    threshold's ratio cannot reach it)."""
    sizes = [len(oracle(d)) for d in range(n_docs)]
    out = {}
    for a in range(n_docs):
        for b in range(a + 1, n_docs):
            if min(sizes[a], sizes[b]) < threshold * max(sizes[a], sizes[b]):
                continue
            j = oracle.jaccard(a, b)
            if j >= threshold:
                out[(a, b)] = j
    return out


def containment_pairs(
    oracle: ShingleOracle, n_docs: int, threshold: float, max_df: int
) -> dict:
    """{(container, contained): containment} for every ordered pair of
    distinct documents that share a shingle found in at most ``max_df``
    documents and whose rounded containment is >= threshold: the engine's
    documented candidate rule, replicated."""
    posting: dict[str, list[int]] = {}
    for d in range(n_docs):
        for g in oracle(d):
            posting.setdefault(g, []).append(d)
    cands = set()
    for docs in posting.values():
        if len(docs) <= max_df:
            cands.update((a, b) for a in docs for b in docs if a != b)
    out = {}
    for a, b in cands:
        c = oracle.containment(a, b)
        if c >= threshold:
            out[(a, b)] = c
    return out


def check_pairs(what: str, rows: list[tuple[int, int, float]], expected: dict) -> list[str]:
    """The rows are exactly the oracle's pairs, each once, with its value."""
    problems = []
    got = {}
    for a, b, v in rows:
        if (a, b) in got:
            problems.append(f"{what} pair ({a}, {b}) repeated")
        got[(a, b)] = v
    for key in sorted(expected.keys() - got.keys()):
        problems.append(f"{what} pair {key} missing (oracle {expected[key]})")
    for key in sorted(got.keys() - expected.keys()):
        problems.append(f"{what} pair {key} = {got[key]} not in the oracle's set")
    for key in sorted(got.keys() & expected.keys()):
        if got[key] != expected[key]:
            problems.append(f"{what}{key} = {got[key]}, oracle {expected[key]}")
    return problems[:20]


def check_minhash_keep(
    kept: list[int], oracle: ShingleOracle, n_docs: int, threshold: float
) -> list[str]:
    """Kept ids are distinct input ids, and every removed doc b has a lower
    id a whose exact Jaccard with it is >= threshold (the pair that removed
    it)."""
    problems = []
    kept_set = set(kept)
    if len(kept_set) != len(kept):
        problems.append("kept ids repeat")
    if not kept_set <= set(range(n_docs)):
        problems.append("kept ids outside the input")
        return problems
    removed = sorted(set(range(n_docs)) - kept_set)
    sizes = np.array([len(oracle(d)) for d in range(n_docs)])
    for b in removed:
        sb = len(oracle(b))
        lo, hi = threshold * sb - 1e-9, sb / threshold + 1e-9
        partners = np.flatnonzero((sizes[:b] >= lo) & (sizes[:b] <= hi))
        if not any(oracle.jaccard(int(a), b) >= threshold for a in partners):
            problems.append(f"doc {b} removed without a Jaccard >= {threshold} partner")
    return problems[:20]
