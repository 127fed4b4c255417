"""Property tests the reference lacks (SURVEY §5.2): P symmetry, perplexity
targets, quadtree-vs-brute-force equivalence, Morton ordering."""

import math

import numpy as np
import pytest

from tests.fixtures import DENSE_PAIRWISE_AFFINITIES
from tsne_flink_spark.operators.affinities import (
    joint_distribution,
    pairwise_affinities,
)
from tsne_flink_spark.sources.readers import coo_from_rows


def test_joint_distribution_symmetric(spark):
    p = joint_distribution(coo_from_rows(spark, DENSE_PAIRWISE_AFFINITIES))
    vals = {(r["i"], r["j"]): r["v"] for r in p.collect()}
    for (i, j), v in vals.items():
        assert vals[(j, i)] == pytest.approx(v, abs=1e-15)


def test_affinities_hit_target_perplexity(spark):
    """exp(H(P_.|i)) ~= perplexity for every row (the bisection's contract:
    |H - log(u)| < 1e-5)."""
    rng = np.random.default_rng(2)
    X = rng.normal(0, 1, (30, 8))
    edges = []
    for i in range(30):
        d = ((X - X[i]) ** 2).sum(axis=1)
        order = np.argsort(d)
        for j in order[1:11]:  # 10 nearest
            edges.append((i, int(j), float(d[j])))
    perplexity = 5.0
    out = pairwise_affinities(coo_from_rows(spark, edges), perplexity).collect()
    by_i = {}
    for r in out:
        by_i.setdefault(r["i"], []).append(r["v"])
    for i, ps in by_i.items():
        ps = np.array(ps)
        h = -(ps[ps > 0] * np.log(ps[ps > 0])).sum()
        assert math.exp(h) == pytest.approx(perplexity, rel=1e-3), f"row {i}"


def test_quadtree_theta0_equals_bruteforce():
    """Near-zero theta makes the 2-D tree's forces equal the O(N^2) pairwise
    formula (body shared with the d != 2 cases in tests/test_ndtree.py)."""
    from tests.test_ndtree import check_theta0_matches_bruteforce

    check_theta0_matches_bruteforce(2)


def test_quadtree_barnes_hut_close_to_exact():
    from tsne_flink_spark.operators.ndtree import build_ndtree

    rng = np.random.default_rng(9)
    Y = rng.normal(0, 2, (200, 2))
    tree = build_ndtree(Y)
    f_exact, s_exact = tree.repulsive_forces(Y, theta=1e-300)
    f_bh, s_bh = tree.repulsive_forces(Y, theta=0.25)
    # the reference's summary condition divides by the SQUARED distance
    # (quirk Q2, QuadTree.scala:133-134), which summarizes far cells more
    # aggressively than canonical Barnes-Hut — tolerances sized accordingly
    assert np.abs(s_bh - s_exact).max() / s_exact.max() < 0.05
    assert np.abs(f_bh - f_exact).max() / (np.abs(f_exact).max() + 1e-12) < 0.25
    # bulk agreement: mean error well under the max
    assert np.abs(f_bh - f_exact).mean() / (np.abs(f_exact).mean() + 1e-12) < 0.1


def test_quadtree_coincident_points():
    """Coincident points accumulate in one leaf (QuadTree.scala:50-52), a
    bit-equal query point gets nothing from its own leaf
    (QuadTree.scala:128), and a later split re-seats the FULL leaf weight —
    the documented divergence from QuadTree.scala:59, whose
    insertion-ORDER-dependent mass drop the order-free bulk build cannot
    reproduce (operators/ndtree.py).  Body shared with the d != 2
    cases in tests/test_ndtree.py."""
    from tests.test_ndtree import check_coincident_points

    check_coincident_points(2)


def test_morton_key_orders_like_zorder():
    """The packed BINARY Morton key sorts identically to the bitwise z-order
    comparator (most-significant differing bit-plane decides, ZOrder.scala
    semantics) on the quantized grid."""
    from tsne_flink_spark.operators.knn import _MORTON_BITS

    rng = np.random.default_rng(6)
    q = rng.integers(0, 1 << _MORTON_BITS, size=(50, 3)).astype(np.uint32)

    def key(row):
        planes = [
            (int(row[d]) >> b) & 1
            for b in range(_MORTON_BITS - 1, -1, -1)
            for d in range(3)
        ]
        out = 0
        for bit in planes:
            out = (out << 1) | bit
        return out

    def zorder_less(p, r):
        # classic msb-XOR comparison on quantized ints
        j, x = 0, 0
        for d in range(3):
            y = int(p[d]) ^ int(r[d])
            if x < y and x < (x ^ y):
                j, x = d, y
        return p[j] < r[j]

    keys = [key(row) for row in q]
    order_by_key = sorted(range(50), key=lambda idx: keys[idx])
    # verify pairwise consistency of adjacent elements with the comparator
    for a, b in zip(order_by_key, order_by_key[1:]):
        assert not zorder_less(q[b], q[a]) or keys[a] == keys[b]


def test_hilbert_bijection_random_coords():
    """Property: the vectorized Skilling transform is injective on random
    16-bit coordinates in 2-5 dims (key collisions would silently merge
    distinct points into one curve position)."""
    import numpy as np

    from tsne_flink_spark.operators.knn import _axes_to_hilbert_transpose

    rng = np.random.default_rng(31)
    for d in (2, 3, 5):
        coords = rng.integers(0, 1 << 16, size=(5000, d)).astype(np.uint32)
        coords = np.unique(coords, axis=0)
        T = _axes_to_hilbert_transpose(coords, 16)
        # pack to python ints (d*16 bits) and count
        keys = set()
        for row in T:
            k = 0
            for b in range(15, -1, -1):
                for dim in range(d):
                    k = (k << 1) | int((row[dim] >> b) & 1)
            keys.add(k)
        assert len(keys) == len(coords)


def test_farfield_pyramid_mass_conservation_random():
    """Property: for random occupied-cell sets, every pyramid level sums to
    the same totals, and for random blocks far emissions + halo cells
    exactly partition the mass (no double counting, none dropped)."""
    import numpy as np

    from tsne_flink_spark.operators import farfield

    rng = np.random.default_rng(13)
    for trial in range(15):
        d = 2 if trial < 10 else 3
        depth = int(rng.integers(4, 8 if d == 2 else 6))
        plan = farfield.plan_summary(
            10**6, d, 1.0, 0.5, "scaled", summary_depth=depth
        )
        grid = plan.grid
        k = int(rng.integers(1, min(grid**d, 2000)))
        cells = rng.choice(grid**d, size=k, replace=False).astype(np.int64)
        cum = rng.integers(1, 100, k)
        s = rng.normal(0, 1, (k, d))
        levels = farfield.build_pyramid(cells, cum, s, plan)
        for lvl in levels:
            assert lvl["cum"].sum() == cum.sum()
        block = 1 << plan.block_bits
        bidx = rng.integers(0, plan.blocks_per_axis, d)
        halo_lo = bidx * block - plan.rc
        halo_hi = bidx * block + block - 1 + plan.rc
        q_lo = -1.0 + (bidx * block) * plan.cellw
        q_hi = -1.0 + (bidx * block + block) * plan.cellw
        fw, _ = farfield.far_masses(levels, plan, halo_lo, halo_hi, q_lo, q_hi)
        idx = np.stack([(cells // grid**a) % grid for a in range(d)], axis=1)
        in_halo = np.all((idx >= halo_lo) & (idx <= halo_hi), axis=1)
        assert fw.sum() + cum[in_halo].sum() == cum.sum(), (trial, d, depth)


def test_netpbm_roundtrip_random_images():
    """Property: encode->decode is the identity for random image shapes."""
    import numpy as np

    from tsne_flink_spark.pipeline.multimodal import decode_image, encode_ppm

    rng = np.random.default_rng(7)
    for _ in range(20):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_image(encode_ppm(img)) == img).all()


def test_winnow_fingerprints_match_reference(spark):
    """Property: the Column-expression winnowing pipeline reproduces a
    straightforward pure-python reference on random printable-ASCII strings
    of varied lengths (including below the k and k+w-1 thresholds), for
    several (k, w) shapes."""
    import random
    import string

    from tsne_flink_spark.pipeline.text import winnow_fingerprints

    rng = random.Random(17)
    alphabet = string.ascii_letters + string.digits + " .,!?"

    def reference(text, k, w, base=257, mod=1_000_000_007):
        codes = [ord(c) for c in text]
        if len(codes) < k:
            return set()
        grams = []
        for i in range(len(codes) - k + 1):
            h = 0
            for c in codes[i : i + k]:
                h = (h * base + c) % mod
            grams.append(h)
        if len(grams) < w:
            return set()
        return {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}

    for k, w in ((8, 4), (5, 9), (3, 1)):
        texts = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
            for _ in range(60)
        ]
        d = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        got = {}
        for r in winnow_fingerprints(d, k=k, w=w, id_col="doc_id").collect():
            got.setdefault(r["doc_id"], set()).add(r["fp"])
        for i, t in enumerate(texts):
            assert got.get(i, set()) == reference(t, k, w), (k, w, i, t)


def test_pii_counts_match_python_re(spark):
    """Property: the Column-regex PII counts equal Python `re` counts with
    the SAME pattern strings on random entity-salted ASCII text (the
    patterns are deliberately restricted to the Java/RE2/`re`-agreed
    syntax subset, so one more engine agreeing is evidence, not luck)."""
    import random
    import re
    import string

    from tsne_flink_spark.pipeline.scrub import (
        EMAIL_RE, IPV4_RE, PHONE_RE, pii_stats,
    )

    rng = random.Random(23)
    words = ["alpha", "beta", "x9", "the", "spark", "..", "a-b", "@", "+1"]
    entities = [
        lambda: f"user{rng.randrange(999)}@h{rng.randrange(9)}.example.org",
        lambda: f"+{rng.randrange(1, 99)}-{rng.randrange(100, 999)}-{rng.randrange(1000, 9999)}",
        lambda: ".".join(str(rng.randrange(256)) for _ in range(4)),
        lambda: "".join(rng.choice(string.ascii_letters) for _ in range(5)),
    ]
    texts = []
    for _ in range(80):
        n = rng.randrange(0, 12)
        toks = [
            rng.choice(entities)() if rng.random() < 0.4 else rng.choice(words)
            for _ in range(n)
        ]
        texts.append(" ".join(toks))
    d = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r for r in pii_stats(d).collect()}
    for i, t in enumerate(texts):
        want = (
            len(re.findall(EMAIL_RE, t)),
            len(re.findall(PHONE_RE, t)),
            len(re.findall(IPV4_RE, t)),
        )
        have = (got[i]["n_emails"], got[i]["n_phones"], got[i]["n_ips"])
        assert have == want, (i, t, have, want)


def test_boilerplate_reassembly_matches_reference(spark):
    """Property: line-dedup reassembly fingerprints equal a pure-python
    reference (split, document-frequency count, filter, join) on random
    multi-line docs with a shared line pool."""
    import hashlib
    import random

    from tsne_flink_spark.pipeline.scrub import remove_boilerplate_lines

    rng = random.Random(31)
    pool = [f"shared line {i}" for i in range(6)]
    docs = []
    for d in range(40):
        lines = []
        for _ in range(rng.randrange(1, 8)):
            if rng.random() < 0.5:
                lines.append(rng.choice(pool))
            else:
                lines.append(f"unique {d} {rng.randrange(10**6)}")
        docs.append((d, "\n".join(lines)))
    min_docs = 4
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(df, min_docs=min_docs).collect()
    }
    freq = {}
    for d, t in docs:
        for line in set(t.split("\n")):
            freq[line] = freq.get(line, 0) + 1
    for d, t in docs:
        lines = t.split("\n")
        kept = [ln for ln in lines if freq[ln] < min_docs]
        want_fp = hashlib.md5("\n".join(kept).encode()).hexdigest()
        r = got[d]
        assert r["n_lines"] == len(lines)
        assert r["n_removed"] == len(lines) - len(kept)
        assert r["kept_fp"] == want_fp, (d, t)


def test_profile_table_matches_python_reference(spark):
    """Property: per-column profile equals a pure-python computation on a
    random mixed-type frame with NULLs (exact distinct excludes NULLs;
    decimal-summed mean rounds identically)."""
    import random
    from decimal import Decimal

    from tsne_flink_spark.pipeline.profile import profile_table

    rng = random.Random(41)
    rows = []
    for i in range(300):
        v = None if rng.random() < 0.2 else round(rng.uniform(-50, 50), 3)
        s = None if rng.random() < 0.3 else rng.choice(list("abcdef")) * rng.randrange(1, 4)
        rows.append((i, v, s))
    df = spark.createDataFrame(rows, "k long, v double, s string")
    out = {r["column"]: r for r in profile_table(df).collect()}

    vs = [r[1] for r in rows if r[1] is not None]
    want_mean = float(
        round(
            float(sum(Decimal(str(round(Decimal(repr(x)), 10))) for x in vs))
            / len(vs),
            6,
        )
    )
    v = out["v"]
    assert v["n_rows"] == 300
    assert v["n_nulls"] == sum(1 for r in rows if r[1] is None)
    assert v["n_distinct"] == len(set(vs))
    assert v["min_num"] == min(vs) and v["max_num"] == max(vs)
    assert abs(v["mean_num"] - want_mean) < 1e-9
    ss = [r[2] for r in rows if r[2] is not None]
    s = out["s"]
    assert s["n_distinct"] == len(set(ss))
    assert s["min_str"] == min(ss) and s["max_str"] == max(ss)


def test_mixture_weights_shares_sum_to_one(spark):
    """Property: actual shares sum to ~1, the max sample_rate is exactly 1,
    and weights invert the share ratio, on random corpora."""
    import random

    from tsne_flink_spark.pipeline.curation import mixture_weights

    rng = random.Random(43)
    rows = []
    for i in range(200):
        src = f"s{rng.randrange(1, 6)}"
        rows.append((i, "tok " * rng.randrange(1, 30), src))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = mixture_weights(df).collect()
    assert abs(sum(r["actual_share"] for r in out) - 1.0) < 1e-4
    assert max(r["sample_rate"] for r in out) == 1.0
    for r in out:
        assert abs(r["weight"] * r["actual_share"] - r["target_share"]) < 1e-4
