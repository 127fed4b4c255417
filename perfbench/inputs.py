"""Seeded input generators.  Pure numpy: the same seed gives the same inputs.

``point_mixture`` draws a labelled Gaussian mixture for the t-SNE workloads.
``zipf_corpus`` draws a small-vocabulary corpus for the dedup workload, with a
record of the near-duplicate copies and quote excerpts it planted.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Points:
    ids: np.ndarray  # int32, 0..n-1
    features: np.ndarray  # (n, d) float64
    labels: np.ndarray  # int32 cluster label per point


# the point mixture
CLUSTERS = 10
CENTRE_SPREAD = 6.0

# the corpus
VOCAB = 100
MIN_LEN = 8
MAX_LEN = 90
DUP_SHARE = 0.10  # near-dup copies per base document
SUBSTITUTE = 0.10  # share of a copy's tokens replaced
QUOTE_SHARE = 0.05  # quote excerpts per base document
QUOTE_LEN = 0.40  # an excerpt's share of its source's tokens


def point_mixture(seed: int, n: int, d: int) -> Points:
    """``CLUSTERS`` unit-variance Gaussians in d dimensions, centres drawn
    N(0, CENTRE_SPREAD^2), n points."""
    rng = np.random.default_rng([seed, n, d, 1])
    centres = rng.normal(0.0, CENTRE_SPREAD, (CLUSTERS, d))
    labels = rng.integers(0, CLUSTERS, n).astype(np.int32)
    features = centres[labels] + rng.normal(0.0, 1.0, (n, d))
    return Points(np.arange(n, dtype=np.int32), features, labels)


@dataclass(frozen=True)
class Corpus:
    ids: np.ndarray  # int64 doc ids, 0..n-1
    texts: list[str]
    # (source id, planted id) pairs: near-dup copies, then quote excerpts
    near_dups: list[tuple[int, int]]
    quotes: list[tuple[int, int]]


def zipf_corpus(seed: int, n_base: int) -> Corpus:
    """``n_base`` documents of ``MIN_LEN``..``MAX_LEN`` tokens drawn from a
    Zipf(1) vocabulary of ``VOCAB`` words, then ``DUP_SHARE * n_base`` copies
    of random base documents with ``SUBSTITUTE`` of their tokens replaced,
    then ``QUOTE_SHARE * n_base`` excerpts made of the first ``QUOTE_LEN`` of
    a random base document.  Ids follow that order."""
    rng = np.random.default_rng([seed, n_base, VOCAB, 2])
    words = np.array([f"w{r}" for r in range(VOCAB)])
    weights = 1.0 / np.arange(1, VOCAB + 1)
    weights /= weights.sum()

    docs: list[np.ndarray] = []
    for length in rng.integers(MIN_LEN, MAX_LEN + 1, n_base):
        docs.append(rng.choice(VOCAB, size=length, p=weights))

    near_dups = []
    for src in rng.choice(n_base, size=int(round(DUP_SHARE * n_base)), replace=False):
        toks = docs[src].copy()
        hit = rng.random(len(toks)) < SUBSTITUTE
        toks[hit] = rng.choice(VOCAB, size=int(hit.sum()), p=weights)
        near_dups.append((int(src), len(docs)))
        docs.append(toks)

    quotes = []
    for src in rng.choice(n_base, size=int(round(QUOTE_SHARE * n_base)), replace=False):
        cut = max(MIN_LEN // 2, int(round(QUOTE_LEN * len(docs[src]))))
        quotes.append((int(src), len(docs)))
        docs.append(docs[src][:cut].copy())

    texts = [" ".join(words[t]) for t in docs]
    return Corpus(np.arange(len(docs), dtype=np.int64), texts, near_dups, quotes)
