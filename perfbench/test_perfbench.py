"""The benchmark's own tests: seeded inputs, oracles, metric names.

    python3 -m pytest perfbench -q

No Spark session is started here.
"""

from __future__ import annotations

import json
import os

import numpy as np

from perfbench import checks, inputs, layers


def test_point_mixture_is_seeded():
    a = inputs.point_mixture(7, 300, 8)
    b = inputs.point_mixture(7, 300, 8)
    c = inputs.point_mixture(8, 300, 8)
    assert np.array_equal(a.features, b.features)
    assert np.array_equal(a.labels, b.labels)
    assert not np.array_equal(a.features, c.features)
    assert a.features.shape == (300, 8)
    assert np.array_equal(a.ids, np.arange(300))
    assert set(np.unique(a.labels)) <= set(range(10))


def test_zipf_corpus_is_seeded_and_records_its_plants():
    a = inputs.zipf_corpus(3, 200)
    b = inputs.zipf_corpus(3, 200)
    c = inputs.zipf_corpus(4, 200)
    assert a.texts == b.texts and a.near_dups == b.near_dups and a.quotes == b.quotes
    assert a.texts != c.texts
    assert len(a.near_dups) == 20 and len(a.quotes) == 10
    assert len(a.texts) == 230
    for src, dup in a.near_dups + a.quotes:
        assert src < 200 <= dup
    for src, quote in a.quotes:
        assert a.texts[src].startswith(a.texts[quote])
    lengths = [len(t.split()) for t in a.texts[:200]]
    assert min(lengths) >= 8 and max(lengths) <= 90
    assert {w for t in a.texts for w in t.split()} <= {f"w{r}" for r in range(100)}


def test_shingle_rule():
    assert checks.shingle_set("A b  a B", 2) == {"a b", "b a"}
    assert checks.shingle_set("one", 3) == {"one"}
    assert checks.shingle_set("x y z", 3) == {"x y z"}


def test_oracle_values():
    texts = ["a b c d", "a b c e", "a b"]
    o2 = checks.ShingleOracle(texts, 2)
    # {ab, bc, cd} vs {ab, bc, ce}: 2 shared of 4
    assert o2.jaccard(0, 1) == 0.5
    o3 = checks.ShingleOracle(texts, 3)
    assert o3.containment(0, 1) == 0.5
    assert checks.ShingleOracle(["a b c", "a b c d"], 2).containment(1, 0) == 1.0


def test_pair_oracles_and_check():
    texts = ["a b c d", "a b c e", "x y z", "a b c"]
    o2 = checks.ShingleOracle(texts, 2)
    want = checks.jaccard_pairs(o2, 4, 0.5)
    # {ab, bc, cd}, {ab, bc, ce}, {ab, bc}: 2/4, 2/3, 2/3
    assert want == {(0, 1): 0.5, (0, 3): 2 / 3, (1, 3): 2 / 3}
    rows = [(a, b, v) for (a, b), v in want.items()]
    assert checks.check_pairs("jaccard", rows, want) == []
    assert checks.check_pairs("jaccard", rows[1:], want) != []  # a pair missing
    assert checks.check_pairs("jaccard", [], want) != []  # nothing returned
    assert checks.check_pairs("jaccard", rows + [(2, 3, 0.0)], want) != []  # extra
    assert checks.check_pairs("jaccard", rows + rows[:1], want) != []  # repeated
    assert checks.check_pairs("jaccard", [(0, 1, 0.6)] + rows[1:], want) != []
    o3 = checks.ShingleOracle(texts, 3)
    # "a b c" sits in docs 0, 1 and 3; a max_df of 2 drops it as a stop-shingle
    assert checks.containment_pairs(o3, 4, 0.8, 3) == {(0, 3): 1.0, (1, 3): 1.0}
    assert checks.containment_pairs(o3, 4, 0.8, 2) == {}


def test_corpus_plants_reach_the_miners():
    corpus = inputs.zipf_corpus(1, 600)
    n = len(corpus.texts)
    jac = checks.jaccard_pairs(checks.ShingleOracle(corpus.texts, 2), n, 0.5)
    con = checks.containment_pairs(
        checks.ShingleOracle(corpus.texts, 3), n, 0.8, 25)
    assert sum((min(p), max(p)) in jac for p in corpus.near_dups) > 50
    assert all(p in con for p in corpus.quotes)


def test_minhash_keep_check():
    texts = ["a b c d e", "a b c d e", "q r s t u"]
    o = checks.ShingleOracle(texts, 3)
    assert checks.check_minhash_keep([0, 2], o, 3, 0.8) == []
    assert checks.check_minhash_keep([1, 2], o, 3, 0.8) != []  # 0 removed, no lower partner
    assert checks.check_minhash_keep([0, 0, 2], o, 3, 0.8) != []


def test_embedding_check():
    rng = np.random.default_rng(0)
    y = rng.normal(0.0, 1.0, (200, 2))
    y -= y.mean(axis=0)
    ids = np.arange(200)
    order = rng.permutation(200)
    assert checks.check_embedding(ids[order], y[order], ids, y) == []
    assert checks.check_embedding(ids, y + 1.0, ids, y + 1.0) != []  # not centred
    assert checks.check_embedding(ids[:-1], y[:-1], ids, y) != []
    nudged = y.copy()
    nudged[3, 0] += 1e-6
    assert checks.check_embedding(ids, nudged, ids, y) != []


def test_conditional_p_hits_the_perplexity():
    rng = np.random.default_rng(1)
    d = rng.uniform(1.0, 50.0, (30, 15))
    p = checks.conditional_p(d, 10.0)
    assert np.allclose(p.sum(axis=1), 1.0)
    h = -(p * np.log(p)).sum(axis=1)
    assert np.abs(h - np.log(10.0)).max() < 1e-4


def test_benchmark_json_lists_every_reported_metric():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    declared = {(m["name"], m["unit"]) for m in spec["per_layer"]}
    assert declared == set(layers.metric_names())
    assert {m["name"] for m in spec["end_to_end"]} == {"job_s", "setup_s", "driver_rss_mb"}
