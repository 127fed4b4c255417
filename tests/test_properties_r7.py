"""Hypothesis property tests for the round-7 pure-python/numpy kernels
(no Spark session needed — these run per-example at hypothesis speed)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    st.integers(1, 5).flatmap(
        lambda d: st.tuples(
            st.just(d),
            st.integers(1, 60 // d),
            st.lists(
                st.lists(st.integers(0, (1 << (60 // d)) - 1),
                         min_size=d, max_size=d),
                min_size=1, max_size=50,
            ),
        )
    )
)
def test_morton_nd_roundtrip_property(args):
    from tsne_flink_spark.operators import farfield

    d, depth, idx_rows = args
    idx = np.asarray(idx_rows, dtype=np.int64) % (1 << depth)
    code = farfield.morton_encode(idx, depth)
    assert (farfield.morton_decode(code, depth, d) == idx).all()
    if depth > 1:
        # parent-prefix property at every level
        assert (
            farfield.morton_encode(idx >> 1, depth - 1) == code >> d
        ).all()


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(0, 200), min_size=1, max_size=60),
    st.integers(1, 20),
)
def test_merge_hit_spans_property(raw_positions, l):
    """Spans must exactly cover the union of hit intervals, be disjoint,
    non-adjacent (maximal), and in order — checked against a brute-force
    coverage set."""
    from tsne_flink_spark.pipeline.substr import merge_hit_spans

    p = np.unique(np.asarray(raw_positions, dtype=np.int64))
    starts, ends = merge_hit_spans(p, l)
    covered = set()
    for pos in p:
        covered |= set(range(pos, pos + l))
    from_spans = set()
    prev_end = None
    for s, e in zip(starts, ends):
        assert s < e
        if prev_end is not None:
            assert s > prev_end  # disjoint AND non-adjacent (maximal)
        prev_end = e
        from_spans |= set(range(int(s), int(e)))
    assert from_spans == covered


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(alphabet="abcd", min_size=1, max_size=8),
                  st.integers(1, 40)),
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    ),
    st.text(alphabet="abcde", max_size=10),
    st.integers(0, 30),
)
def test_bpe_encode_roundtrip_property(word_freqs, probe_word, n_merges):
    """Any word encodes to tokens whose concatenation is word + EOW,
    under any merge table learned from any word-frequency table."""
    from tsne_flink_spark.pipeline.bpe import EOW, encode_word, train_bpe

    merges = train_bpe(word_freqs, n_merges=n_merges)
    ranks = {p: i for i, p in enumerate(merges)}
    toks = encode_word(probe_word, ranks)
    assert "".join(toks) == probe_word + EOW
    for w, _ in word_freqs:
        assert "".join(encode_word(w, ranks)) == w + EOW


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 6), st.integers(2, 40))
def test_eval_far_nd_property(seed, d, n_masses):
    """The chunked d-dim kernel equals the dense einsum formulation."""
    from tsne_flink_spark.operators.farfield import eval_far

    rng = np.random.default_rng(seed)
    Qp = rng.normal(0, 2, (17, d))
    w = rng.integers(1, 9, n_masses).astype(np.float64)
    com = rng.normal(0, 2, (n_masses, d))
    forces, sumq = eval_far(Qp, w, com, chunk=5)
    dx = Qp[:, None, :] - com[None, :, :]
    q = 1.0 / (1.0 + (dx * dx).sum(axis=2))
    wq = w[None, :] * q
    assert np.allclose(sumq, wq.sum(axis=1), rtol=1e-12, atol=1e-12)
    assert np.allclose(
        forces, ((wq * q)[:, :, None] * dx).sum(axis=1),
        rtol=1e-12, atol=1e-12,
    )
