"""Similarity search over embedding columns (ARRAY<FLOAT/DOUBLE>).

- ``brute_force_top_k``  — exact cosine top-k: crossJoin + Column-expression
  dot products + window top-k.  The correctness baseline; reuses the kNN
  machinery's shape (it IS kNN with metric=cosine-similarity, descending).
- ``lsh_top_k``          — random-hyperplane LSH with multi-probe buckets:
  candidates from bucket collisions only, then exact re-rank.  The scale
  path: shuffle O(rows x probes), never O(rows^2).
- ``ivf_top_k``          — IVF-style: k-means-ish coarse centroids sampled
  driver-side, each vector assigned to its nearest centroid partition,
  queries probe the ``n_probe`` nearest centroids.  Broadcast centroids,
  equi-join on centroid id.
- ``pq_top_k``           — IVF + product quantization (Jégou et al., PAMI
  2011): corpus vectors compressed to ``m`` sub-space codebook codes
  (bytes, not doubles), candidates ADC-scored against the CODES, only
  the per-query shortlist re-ranked with exact vectors.  The memory
  path at 100 TB: the wide candidate join moves m small ints per
  vector instead of the d-double embedding.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_similarity_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for every query row.

    Output: (q INT, c INT, sim DOUBLE), k rows per query, ties broken by c.
    Self-matches (same id) are excluded.  Norms are computed once per row
    BEFORE the cross join (not per pair), and with a known ``dim`` the dot
    product unrolls into whole-stage codegen.
    """
    from tsne_flink_spark.functions.metrics import dot_unrolled

    if dim is None:
        head = corpus.select(vec_col).head()
        dim = len(head[0]) if head else None

    q = queries.select(
        F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("__vq")
    ).withColumn("__nq", norm_expr(F.col("__vq")))
    c = corpus.select(
        F.col(id_col).alias("c"), _as_double(F.col(vec_col)).alias("__vc")
    ).withColumn("__nc", norm_expr(F.col("__vc")))
    dot = (
        dot_unrolled(F.col("__vq"), F.col("__vc"), dim)
        if dim is not None and dim <= 256
        else dot_expr(F.col("__vq"), F.col("__vc"))
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("q") != F.col("c"))
        # zero-vector guard (matches all other rerank kernels): NaN sorts
        # above every double in Spark, so 0/0 would rank first in the top-k
        .select(
            "q",
            "c",
            (dot / F.greatest(F.col("__nq") * F.col("__nc"), F.lit(1e-12)))
            .alias("sim"),
        )
    )
    w = Window.partitionBy("q").orderBy(F.col("sim").desc(), F.col("c").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _hyperplane_assign(
    df, alias: str, id_type: str, planes: np.ndarray, probe_flips: int
):
    """(alias, __v, __bucket, __norm), one row per (vector, probe bucket).

    Sign buckets for a whole Arrow batch via one GEMM against the plane
    matrix, plus single-bit-flip probes (multi-probe LSH) for recall without
    extra tables.  Scales with num_planes, unlike the unrolled Column form
    whose generated code grows past Janino's 64 KB method limit when the
    plane projections are inlined per probe (observed: whole stage silently
    falls back to interpreted evaluation, 10x slower), and whose compilation
    alone costs seconds.  ``df`` must have columns (alias, __v).
    """
    from typing import Iterator

    import pandas as pd

    num_planes = len(planes)
    flips = min(probe_flips, num_planes)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
            bits = (V @ planes.T > 0).astype(np.int64)
            base = (bits << np.arange(num_planes, dtype=np.int64)).sum(axis=1)
            probes = np.concatenate(
                [base[:, None]]
                + [(base ^ (1 << p))[:, None] for p in range(flips)],
                axis=1,
            )
            n = flips + 1
            yield pd.DataFrame(
                {
                    alias: pdf[alias].to_numpy().repeat(n),
                    "__v": [v for v in pdf["__v"] for _ in range(n)],
                    "__bucket": probes.reshape(-1),
                    "__norm": np.linalg.norm(V, axis=1).repeat(n),
                }
            )

    return df.mapInPandas(
        kernel,
        schema=f"{alias} {id_type}, __v array<double>, __bucket long, __norm double",
    )


def lsh_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    probe_flips: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-probe random-hyperplane LSH."""
    if dim is None:
        dim = len(corpus.select(vec_col).head()[0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(num_planes, dim))

    from tsne_flink_spark.functions.metrics import dot_unrolled

    id_type = dict(corpus.dtypes)[id_col]
    q = _hyperplane_assign(
        queries.select(
            F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("__v")
        ),
        "q",
        id_type,
        planes,
        probe_flips,
    ).select("q", F.col("__v").alias("__vq"), "__bucket", F.col("__norm").alias("__nq"))
    # corpus rows sit in their base bucket only; queries multi-probe
    c = _hyperplane_assign(
        corpus.select(
            F.col(id_col).alias("c"), _as_double(F.col(vec_col)).alias("__v")
        ),
        "c",
        id_type,
        planes,
        0,
    ).select("c", F.col("__v").alias("__vc"), "__bucket", F.col("__norm").alias("__nc"))
    # norms once per row pre-join; per-pair only the codegen-unrolled dot.
    # sim is computed BEFORE dropDuplicates so the dedup aggregates only
    # (q, c, sim) scalars — deduping with the vector arrays still attached
    # forces first(ARRAY) into a sort-based aggregation over the full
    # candidate volume (observed as a 90 s single-task stage).
    scored = (
        q.join(c, "__bucket")
        .where(F.col("q") != F.col("c"))
        .select(
            "q",
            "c",
            (
                dot_unrolled(F.col("__vq"), F.col("__vc"), dim)
                # zero-vector guard: NaN sorts above every double in Spark
                / F.greatest(F.col("__nq") * F.col("__nc"), F.lit(1e-12))
            ).alias("sim"),
        )
        .dropDuplicates(["q", "c"])
    )
    w = Window.partitionBy("q").orderBy(F.col("sim").desc(), F.col("c").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_lists: int,
    seed: int,
    n_corpus: int,
) -> np.ndarray:
    """Coarse IVF centroids from a seeded uniform ``sample`` of the corpus
    (``limit`` would take the first-scanned rows — on sorted or
    partition-skewed input the quantizer degenerates), refined with a few
    driver-side spherical-k-means Lloyd iterations over the sample."""
    target = max(n_lists * 20, 200)
    if n_corpus <= target:
        sample = corpus.select(vec_col).collect()
    else:
        frac = min(1.0, (target * 1.3) / n_corpus)
        sample = (
            corpus.select(vec_col).sample(False, frac, seed).limit(target).collect()
        )
    X = np.array([list(r[0]) for r in sample], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1)[:, None], 1e-12)
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(X), size=min(n_lists, len(X)), replace=False)
    centroids = Xn[idx]
    # a few Lloyd iterations (spherical k-means) over the sample: cheap on
    # the driver, markedly better list balance than raw sampled seeds
    for _ in range(3):
        assign = np.argmax(Xn @ centroids.T, axis=1)
        for j in range(len(centroids)):
            members = Xn[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
        centroids /= np.maximum(np.linalg.norm(centroids, axis=1)[:, None], 1e-12)
    return centroids


def _ivf_assign(centroids: np.ndarray, alias: str, n: int):
    """mapInPandas kernel: top-n nearest centroids per vector, one output
    row per (vector, list).  A whole Arrow batch is assigned with one
    GEMM — unlike an unrolled Column formulation this scales with
    n_lists (the scale path wants ~sqrt(N) lists) and generates no
    JIT-hostile code.  Also emits the norm for the verify dot."""
    from typing import Iterator

    import pandas as pd

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            sims = V @ centroids.T
            top = np.argsort(-sims, axis=1)[:, :n]
            norms = np.linalg.norm(V, axis=1)
            yield pd.DataFrame(
                {
                    alias: pdf[alias].to_numpy().repeat(n),
                    "__v": [v for v in pdf["__v"] for _ in range(n)],
                    "__list": top.reshape(-1),
                    "__norm": norms.repeat(n),
                }
            )

    return kernel


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    seed: int = 42,
    n_corpus: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(centroids_df, index_df): the PERSISTABLE IVF index — the
    build-once / query-many lifecycle a 100-TB corpus wants (the encode
    pass scans every vector; re-training it per query batch would rescan
    the corpus every time).  Both halves are plain parquet-writable
    DataFrames; read back and handed to :func:`ivf_query_index` they
    reproduce :func:`ivf_top_k` bit-exactly (array<double> survives the
    roundtrip losslessly — asserted by the ann_ivf_persisted gate pair):

    - ``centroids_df``: (list int, centroid array<double>) — ``n_lists``
      rows (≤ 4096 by the sqrt(N) cap, a few MB at dim 64: bounded).
    - ``index_df``: (<id_col>, list int, vec array<double>,
      norm double) — one row per corpus vector, its nearest coarse list
      plus the precomputed norm, so the serving join never recomputes
      either.  Partition/bucket BY ``list`` when persisting at scale and
      the per-query probe join prunes to n_probe lists' files.

    ``n_corpus``: caller-supplied corpus row count.  When given, the
    per-call ``corpus.count()`` scan is skipped (the count only sizes
    ``n_lists`` and the sampling fraction, so a stale-but-close value is
    harmless)."""
    if n_corpus is None:
        n_corpus = corpus.count()
    if n_lists is None:
        n_lists = max(4, min(4096, int(np.sqrt(max(n_corpus, 1)))))
    centroids = _train_ivf_centroids(corpus, vec_col, n_lists, seed, n_corpus)
    spark = corpus.sparkSession
    centroids_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "list int, centroid array<double>",
    )
    id_type = dict(corpus.dtypes)[id_col]
    index_df = (
        corpus.select(
            F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
        )
        .mapInPandas(
            _ivf_assign(centroids, "__id", 1),
            schema=f"__id {id_type}, __v array<double>, __list int, __norm double",
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__list").alias("list"),
            F.col("__v").alias("vec"),
            F.col("__norm").alias("norm"),
        )
    )
    return centroids_df, index_df


def append_to_ivf_index(
    centroids_df: DataFrame,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index rows for a NEW corpus batch against the EXISTING coarse
    quantizer — the incremental-ingest half of the persisted-IVF
    lifecycle (r12 verdict item 8: without this, a batch of new vectors
    silently never enters the served index).  Assigns each new vector to
    its nearest EXISTING centroid (same Arrow-batched GEMM pass as
    :func:`build_ivf_index`) and returns rows in the exact ``index_df``
    schema — union them with the persisted index (or, partitioned BY
    list, append them as new parquet files under the same store) and
    :func:`ivf_query_index` serves the grown corpus with no re-train and
    no re-encode of the old vectors.

    Contract: for the SAME centroids, assignment is per-row, so
    append(A) ∪ append(B) == append(A ∪ B) == the index a full build
    would produce with those centroids — appending is exact, the only
    approximation drift is the coarse quantizer itself going stale as
    the data distribution shifts (probe: tools/probe_ivf_append.py
    measures recall vs a fresh rebuild after a 20% append; rebuild when
    the measured gap crosses your recall budget).  The standard
    IVF-serving pattern (FAISS add-with-frozen-quantizer)."""
    rows = centroids_df.orderBy("list").collect()
    if not rows:
        raise ValueError("append_to_ivf_index: empty centroid table")
    centroids = np.array(
        [list(r["centroid"]) for r in rows], dtype=np.float64
    )
    id_type = dict(new_corpus.dtypes)[id_col]
    return (
        new_corpus.select(
            F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
        )
        .mapInPandas(
            _ivf_assign(centroids, "__id", 1),
            schema=f"__id {id_type}, __v array<double>, __list int, __norm double",
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__list").alias("list"),
            F.col("__v").alias("vec"),
            F.col("__norm").alias("norm"),
        )
    )


def ivf_query_index(
    queries: DataFrame,
    centroids_df: DataFrame,
    index_df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Serve approximate top-k from a built (possibly parquet-roundtripped)
    IVF index — see :func:`build_ivf_index` for the artifact contract.
    The centroid table is a bounded driver collect (≤ 4096 × dim doubles);
    queries are assigned to their ``n_probe`` nearest lists in one
    Arrow-batched GEMM pass and candidates come from an equi-join on list
    id — never all-pairs."""
    rows = centroids_df.orderBy("list").collect()
    centroids = np.array([list(r["centroid"]) for r in rows], dtype=np.float64)
    dim = int(centroids.shape[1]) if len(centroids) else 0
    id_type = dict(queries.dtypes)[id_col]
    c = index_df.select(
        F.col(id_col).alias("c"),
        F.col("vec").alias("__vc"),
        F.col("list").alias("__list"),
        F.col("norm").alias("__nc"),
    )
    q = (
        queries.select(
            F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("__v")
        )
        .mapInPandas(
            _ivf_assign(centroids, "q", min(n_probe, len(centroids))),
            schema=f"q {id_type}, __v array<double>, __list int, __norm double",
        )
        .select("q", F.col("__v").alias("__vq"), "__list", F.col("__norm").alias("__nq"))
    )
    from tsne_flink_spark.functions.metrics import dot_unrolled
    # norms once per row pre-join; per-pair only the codegen-unrolled dot.
    # sim computed BEFORE dropDuplicates — see lsh_top_k for why.
    scored = (
        q.join(c, "__list")
        .where(F.col("q") != F.col("c"))
        .select(
            "q",
            "c",
            (
                dot_unrolled(F.col("__vq"), F.col("__vc"), dim)
                # zero-vector guard: NaN sorts above every double in Spark
                / F.greatest(F.col("__nq") * F.col("__nc"), F.lit(1e-12))
            ).alias("sim"),
        )
        .dropDuplicates(["q", "c"])
    )
    w = Window.partitionBy("q").orderBy(F.col("sim").desc(), F.col("c").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    n_probe: int = 4,
    seed: int = 42,
    n_corpus: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: the one-shot composition of
    :func:`build_ivf_index` + :func:`ivf_query_index` (train coarse
    centroids, assign every corpus vector to its nearest list, probe each
    query's ``n_probe`` nearest lists via an equi-join on list id).
    ``n_lists`` defaults to ~sqrt(N) so list size and list count stay
    balanced as the corpus grows.  For repeated query batches against one
    corpus, build the index ONCE with :func:`build_ivf_index`, persist
    it, and serve with :func:`ivf_query_index` — identical results, no
    per-batch re-train/re-encode."""
    centroids_df, index_df = build_ivf_index(
        corpus, id_col, vec_col, n_lists, seed, n_corpus
    )
    return ivf_query_index(
        queries, centroids_df, index_df, k, id_col, vec_col, n_probe
    )


def build_pq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 256,
    n_lists: int | None = None,
    seed: int = 42,
    n_corpus: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(model_df, codes_df): the PERSISTABLE IVF-PQ index — training and
    the corpus encode pass happen ONCE; later query batches serve from
    the stored artifact via :func:`pq_query_index` bit-identically to
    one-shot :func:`pq_top_k` (asserted by its gate check).  Both halves
    are plain parquet-writable DataFrames:

    - ``model_df``: (part string, a int, b int, vec array<double>) —
      ``part='coarse'`` rows (a = list id) hold the coarse centroids;
      ``part='book'`` rows (a = sub-space, b = code index) hold the
      ``m × ksub`` residual-codebook entries.  Bounded small
      (n_lists×dim + m×ksub×dsub doubles — ~1.3 MB at the defaults).
    - ``codes_df``: (<id_col>, list int, code binary, rnorm double) —
      one ~20 B row per corpus vector: packed uint8 code word, coarse
      list id, reconstruction norm.  The candidate/ADC stage reads ONLY
      this table; the exact rerank joins back to the ORIGINAL corpus
      table, which a pipeline already persists as its base artifact.

    Training is the IVFADC scheme documented on :func:`pq_top_k` (same
    seed ⇒ same model).  ``m`` is clipped to the largest divisor of the
    dimension; ``ksub`` to the sample size and 256 (warns above 256).
    Raises ``ValueError`` on an empty corpus — there is nothing to
    train; one-shot :func:`pq_top_k` handles that case by returning an
    empty result."""
    if n_corpus is None:
        n_corpus = corpus.count()
    if n_corpus == 0:
        raise ValueError("build_pq_index: empty corpus (nothing to train)")
    if n_lists is None:
        n_lists = max(4, min(4096, int(np.sqrt(max(n_corpus, 1)))))
    # ksub * 8 keeps >= 8 training points per codebook entry at the Jégou
    # default ksub=256 (sample floor 2048; still a bounded driver collect)
    target = max(n_lists * 20, ksub * 8, 200)
    if n_corpus <= target:
        sample = corpus.select(vec_col).collect()
    else:
        frac = min(1.0, (target * 1.3) / n_corpus)
        sample = (
            corpus.select(vec_col).sample(False, frac, seed).limit(target).collect()
        )
    X = np.array([list(r[0]) for r in sample], dtype=np.float64)
    dim = X.shape[1]
    while dim % m:  # largest divisor of dim not above the requested m
        m -= 1
    dsub = dim // m
    if ksub > 256:
        # visible, not silent: a caller tuning recall with ksub=1024
        # should know the packed-uint8 code path caps the codebook
        import warnings

        warnings.warn(
            f"build_pq_index: ksub={ksub} clamped to 256 (codes are packed "
            "as one uint8 per sub-space; raise m for finer quantization "
            "instead)",
            stacklevel=2,
        )
    ksub = min(ksub, len(X), 256)  # codes must fit one uint8 each
    rng = np.random.default_rng(seed)

    # coarse quantizer: identical scheme to ivf_top_k (spherical k-means
    # over the normalized sample)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1)[:, None], 1e-12)
    idx = rng.choice(len(X), size=min(n_lists, len(X)), replace=False)
    coarse = Xn[idx].copy()
    for _ in range(3):
        assign = np.argmax(Xn @ coarse.T, axis=1)
        for j in range(len(coarse)):
            members = Xn[assign == j]
            if len(members):
                coarse[j] = members.mean(axis=0)
        coarse /= np.maximum(np.linalg.norm(coarse, axis=1)[:, None], 1e-12)

    # PQ codebooks on RESIDUALS from the assigned coarse centroid (the
    # IVFADC formulation, Jégou et al. §IV) — PQ on raw vectors collapses
    # every member of a tight cluster onto the SAME code word, making ADC
    # unable to rank within a cluster, which is exactly where the true
    # neighbors live (measured: recall 0.27 -> 0.75 on 64-cluster
    # synthetic data, tools/probe_pq_recall.py).  Everything lives on the
    # unit sphere (cosine metric), so residuals are normalized-vector
    # minus unit centroid.
    sample_assign = np.argmax(Xn @ coarse.T, axis=1)
    Rs = Xn - coarse[sample_assign]
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = Rs[:, j * dsub : (j + 1) * dsub]
        cb = sub[rng.choice(len(sub), size=ksub, replace=False)].copy()
        for _ in range(8):
            # argmin ||r - c||^2 = argmin ||c||^2 - 2 r.c — one GEMM per
            # iteration instead of a B x ksub x dsub broadcast (matters at
            # ksub=256: the naive form is 5.5M doubles PER iteration)
            d2 = (cb**2).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
            a = np.argmin(d2, axis=1)
            for t in range(ksub):
                members = sub[a == t]
                if len(members):
                    cb[t] = members.mean(axis=0)
        books[j] = cb

    def _codes(R: np.ndarray) -> np.ndarray:
        """(B, dim) residuals -> (B, m) nearest-codebook-entry indices."""
        out = np.empty((len(R), m), dtype=np.int32)
        for j in range(m):
            sub = R[:, j * dsub : (j + 1) * dsub]
            # argmin ||r - c||^2 = argmin ||c||^2 - 2 r.c (batch GEMM)
            d2 = (books[j] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ books[j].T)
            out[:, j] = np.argmin(d2, axis=1)
        return out

    def _recon(lists: np.ndarray, codes: np.ndarray) -> np.ndarray:
        """(B,) list ids + (B, m) codes -> (B, dim) reconstructions:
        coarse centroid + decoded residual."""
        return coarse[lists] + np.concatenate(
            [books[j][codes[:, j]] for j in range(m)], axis=1
        )

    from typing import Iterator

    import pandas as pd

    id_type = dict(corpus.dtypes)[id_col]

    def encode_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["__id_v"]])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-12)
            lists = np.argmax(Vn @ coarse.T, axis=1)
            codes = _codes(Vn - coarse[lists])
            rnorm = np.linalg.norm(_recon(lists, codes), axis=1)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "list": lists,
                    # m packed uint8 bytes per vector (ksub <= 256), the
                    # minimal candidate payload
                    "code": [r.tobytes() for r in codes.astype(np.uint8)],
                    "rnorm": rnorm,
                }
            )

    codes_df = (
        corpus.select(
            F.col(id_col).alias("__id"),
            _as_double(F.col(vec_col)).alias("__id_v"),
        )
        .mapInPandas(
            encode_kernel,
            schema=f"__id {id_type}, list int, code binary, rnorm double",
        )
        .withColumnRenamed("__id", id_col)
    )
    spark = corpus.sparkSession
    rows = [
        ("coarse", int(i), 0, [float(x) for x in c])
        for i, c in enumerate(coarse)
    ] + [
        ("book", int(j), int(t), [float(x) for x in books[j][t]])
        for j in range(m)
        for t in range(ksub)
    ]
    model_df = spark.createDataFrame(
        rows, "part string, a int, b int, vec array<double>"
    )
    return model_df, codes_df


def append_to_pq_index(
    model_df: DataFrame,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``codes_df`` rows for a NEW corpus batch against the FROZEN IVF-PQ
    model — the incremental-ingest half of the persisted-PQ lifecycle,
    mirroring :func:`append_to_ivf_index` (same frozen-quantizer
    contract: encoding is per-row and deterministic given the model, so
    append(A) ∪ append(B) == append(A ∪ B) == what the original build's
    encode pass produces for those rows).  Union the result with the
    persisted ``codes_df`` (or append as parquet files partitioned BY
    list) and :func:`pq_query_index` serves the grown corpus with no
    re-train and no re-encode of the old vectors — at 100 TB the
    re-encode is the dominant full-corpus scan (B73/B83).  Staleness is
    the coarse quantizer AND the residual codebooks drifting from the
    data distribution; monitor list occupancy / served recall and
    rebuild on budget, exactly the IVF story."""
    mr = model_df.collect()
    coarse = np.array(
        [
            v
            for _, v in sorted(
                (r["a"], list(r["vec"])) for r in mr if r["part"] == "coarse"
            )
        ],
        dtype=np.float64,
    )
    book_rows = [
        (r["a"], r["b"], list(r["vec"])) for r in mr if r["part"] == "book"
    ]
    if not len(coarse) or not book_rows:
        raise ValueError("append_to_pq_index: empty model table")
    m = 1 + max(a for a, _, _ in book_rows)
    ksub = 1 + max(b for _, b, _ in book_rows)
    dsub = len(book_rows[0][2])
    books = np.zeros((m, ksub, dsub), dtype=np.float64)
    for a, b, v in book_rows:
        books[a, b] = v

    from typing import Iterator

    import pandas as pd

    id_type = dict(new_corpus.dtypes)[id_col]

    def encode_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["__id_v"]]
            )
            Vn = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-12)
            lists = np.argmax(Vn @ coarse.T, axis=1)
            R = Vn - coarse[lists]
            codes = np.empty((len(R), m), dtype=np.int32)
            for j in range(m):
                sub = R[:, j * dsub : (j + 1) * dsub]
                d2 = (books[j] ** 2).sum(axis=1)[None, :] - 2.0 * (
                    sub @ books[j].T
                )
                codes[:, j] = np.argmin(d2, axis=1)
            recon = coarse[lists] + np.concatenate(
                [books[j][codes[:, j]] for j in range(m)], axis=1
            )
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "list": lists,
                    "code": [r.tobytes() for r in codes.astype(np.uint8)],
                    "rnorm": np.linalg.norm(recon, axis=1),
                }
            )

    return (
        new_corpus.select(
            F.col(id_col).alias("__id"),
            _as_double(F.col(vec_col)).alias("__id_v"),
        )
        .mapInPandas(
            encode_kernel,
            schema=f"__id {id_type}, list int, code binary, rnorm double",
        )
        .withColumnRenamed("__id", id_col)
    )


def ivf_index_staleness(
    centroids_df: DataFrame, index_df: DataFrame
) -> DataFrame:
    """One audit row (n_lists, n_vectors, empty_lists, max_per_list,
    mean_per_list, skew_ratio) for a persisted IVF (or IVF-PQ codes)
    table — the REBUILD TRIGGER the append lifecycle needs (B83):
    frozen-quantizer appends keep recall but crowd lists as the data
    distribution drifts, and the serving equi-join's biggest task scales
    with the hottest probed list.  Run this after each append batch;
    re-train the quantizer when skew_ratio (max/mean occupancy) crosses
    the serving budget or empty_lists says the quantizer no longer
    matches the data.  One O(|index|) groupBy + a broadcast join against
    the bounded centroid table — safe to run per ingestion batch at any
    scale.  Works on both index_df (IVF) and codes_df (PQ): each carries
    a ``list`` column."""
    occ = index_df.groupBy("list").agg(F.count(F.lit(1)).alias("__c"))
    per_list = (
        centroids_df.select("list")
        .join(occ, "list", "left")
        .select(F.coalesce("__c", F.lit(0)).alias("__c"))
    )
    nonzero = F.col("n_vectors") > 0
    return (
        per_list.agg(
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias(
                "n_vectors"
            ),
            F.coalesce(F.sum((F.col("__c") == 0).cast("long")), F.lit(0))
            .cast("long")
            .alias("empty_lists"),
            F.coalesce(F.max("__c"), F.lit(0)).cast("long").alias(
                "max_per_list"
            ),
        )
        .select(
            "n_lists",
            "n_vectors",
            "empty_lists",
            "max_per_list",
            F.round(
                F.when(
                    nonzero,
                    F.col("n_vectors").cast("double")
                    / F.col("n_lists").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("mean_per_list"),
            F.round(
                F.when(
                    nonzero,
                    F.col("max_per_list").cast("double")
                    * F.col("n_lists").cast("double")
                    / F.col("n_vectors").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("skew_ratio"),
        )
    )


def pq_query_index(
    queries: DataFrame,
    model_df: DataFrame,
    codes_df: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    shortlist: int | None = None,
) -> DataFrame:
    """Serve IVF-PQ approximate top-k from a built (possibly
    parquet-roundtripped) index — see :func:`build_pq_index` for the
    artifact contract and :func:`pq_top_k` for the probe/ADC/rerank
    dataflow, which is identical here.  The model table is a bounded
    driver collect (~1.3 MB at the defaults); ``corpus`` supplies the
    raw vectors ONLY to the exact rerank of the per-query shortlist —
    the candidate/ADC stage touches nothing but ``codes_df``."""
    from typing import Iterator

    import pandas as pd

    if shortlist is None:
        # 16k/64 floor, not 4k/16: the rerank is exact, so overfetch is
        # the free recall lever — B69 measured 0.5513 -> 0.5730 recall@3
        # (ABOVE the 0.5625 IVF parity target at equal probes/lists) on
        # near-iid sf0.1 vectors going 32 -> 64, with no wall change and
        # zero effect on the 20 B/vector candidate payload (the shortlist
        # only sizes the per-query exact-rerank join); saturation at s128
        # is the probed-candidate ceiling, not an ADC floor
        shortlist = max(16 * k, 64)
    mr = model_df.collect()
    coarse = np.array(
        [
            v
            for _, v in sorted(
                (r["a"], list(r["vec"])) for r in mr if r["part"] == "coarse"
            )
        ],
        dtype=np.float64,
    )
    book_rows = [(r["a"], r["b"], list(r["vec"])) for r in mr if r["part"] == "book"]
    if not len(coarse) or not book_rows:
        return queries.select(
            F.col(id_col).alias("q"),
            F.col(id_col).alias("c"),
            F.lit(0.0).alias("sim"),
        ).where(F.lit(False))
    m = 1 + max(a for a, _, _ in book_rows)
    ksub = 1 + max(b for _, b, _ in book_rows)
    dsub = len(book_rows[0][2])
    books = np.zeros((m, ksub, dsub), dtype=np.float64)
    for a, b, v in book_rows:
        books[a, b] = v
    dim = int(coarse.shape[1])

    id_type = dict(queries.dtypes)[id_col]

    def probe_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        n = min(n_probe, len(coarse))
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
            sims = (
                V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-12)
            ) @ coarse.T
            top = np.argsort(-sims, axis=1)[:, :n]
            norms = np.linalg.norm(V, axis=1)
            yield pd.DataFrame(
                {
                    "q": pdf["q"].to_numpy().repeat(n),
                    "__vq": [v for v in pdf["__v"] for _ in range(n)],
                    "__nq": norms.repeat(n),
                    "__list": top.reshape(-1),
                }
            )

    def adc_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        # Per-query LUT ADC (Jégou et al. §III.C): q . recon(list, code)
        # = q . coarse[list] + sum_j LUT[q][j, code_j], where LUT[q] is the
        # m x ksub table of query-subvector x codebook-entry dots.  One
        # einsum + one GEMM per DISTINCT query in the batch, then m
        # integer lookups per candidate — identical numbers to the explicit
        # reconstruction it replaces.  Input rows are (query, list) PAIRS
        # carrying the whole list's aligned candidate arrays — the
        # candidates unpack to numpy per batch, never per pair.
        for pdf in it:
            if not len(pdf):
                continue
            counts = pdf["__cs"].map(len).to_numpy()
            qi, _ = pd.factorize(pdf["q"])
            first = np.unique(qi, return_index=True)[1]
            Vu = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["__vq"].iloc[first]]
            )
            lut = np.einsum("qjd,jtd->qjt", Vu.reshape(len(Vu), m, dsub), books)
            coarse_dot = Vu @ coarse.T
            row = np.repeat(np.arange(len(pdf)), counts)
            qrow = qi[row]
            lists = pdf["__list"].to_numpy()[row]
            cs = np.concatenate([np.asarray(x) for x in pdf["__cs"]])
            codes = (
                np.frombuffer(
                    b"".join(b"".join(r) for r in pdf["__codes"]),
                    dtype=np.uint8,
                )
                .reshape(-1, m)
                .astype(np.int64)
            )
            rns = np.concatenate(
                [np.asarray(x, dtype=np.float64) for x in pdf["__rns"]]
            )
            num = coarse_dot[qrow, lists] + lut[
                qrow[:, None], np.arange(m)[None, :], codes
            ].sum(axis=1)
            adc = num / np.maximum(
                pdf["__nq"].to_numpy()[row] * rns, 1e-12
            )
            yield pd.DataFrame(
                {"q": pdf["q"].to_numpy()[row], "c": cs, "__adc": adc}
            )

    enc = codes_df.select(
        F.col(id_col).alias("c"),
        F.col("list").alias("__list"),
        F.col("code").alias("__code"),
        F.col("rnorm").alias("__rn"),
    )
    qr = queries.select(
        F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("__v")
    ).mapInPandas(
        probe_kernel,
        schema=f"q {id_type}, __vq array<double>, __nq double, __list int",
    )
    # The encoded corpus is GROUPED per coarse list before the candidate
    # join: three index-aligned collect_list buffers (one aggregation pass
    # appends every buffer in the same row order) so a (query, list) join
    # row carries the WHOLE list's ids/codes/norms.  Without this, the
    # per-PAIR join rows each carried the dim-double query vector into the
    # Arrow boundary — at 40k corpus x 8 probes that is ~800 MB through
    # Python vs ~4 MB for the grouped form (probe_pq_scale.py measured the
    # ungrouped ADC stage 4.7x slower than IVF's JVM dot at equal
    # candidates; the codes were already small — the QUERY VECTOR copies
    # were the transfer).  Per-list payload is ~24 B x list size and must
    # fit a task (bounded by the spherical-k-means balance ~N/n_lists, the
    # same boundary the per-list processing always had).
    #
    # Explicit repartition of the QUERY SIDE on the join key, not of the
    # joined rows: the user repartition keeps AQE's byte-based coalescing
    # from collapsing the CPU-heavy ADC stage (join output streams into
    # mapInPandas in the same stage, so the join's task count IS the
    # Python stage's task count — the documented cpu-per-row blind spot).
    # Cost: a user-origin shuffle opts this join out of AQE skew
    # splitting; acceptable because list sizes are k-means-balanced,
    # unlike the LSH band join (B17) where skew is adversarial.
    grouped = enc.groupBy("__list").agg(
        F.collect_list("c").alias("__cs"),
        F.collect_list("__code").alias("__codes"),
        F.collect_list("__rn").alias("__rns"),
    )
    cand = qr.repartition("__list").join(grouped, "__list")
    adc = cand.mapInPandas(
        adc_kernel, schema=f"q {id_type}, c {id_type}, __adc double"
    ).where(F.col("q") != F.col("c"))
    # (q, c) pairs are already unique — each corpus vector lives in exactly
    # ONE coarse list — but dedup defensively on the slim projection
    # (array columns long gone: the ARRAY-in-dropDuplicates single-task trap)
    adc = adc.dropDuplicates(["q", "c"])
    ws = Window.partitionBy("q").orderBy(F.col("__adc").desc(), F.col("c").asc())
    short = (
        adc.withColumn("__rs", F.row_number().over(ws))
        .where(F.col("__rs") <= shortlist)
        .select("q", "c")
    )

    from tsne_flink_spark.functions.metrics import dot_unrolled

    def _normed(df: DataFrame, out_id: str, out_v: str, out_n: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id), _as_double(F.col(vec_col)).alias(out_v)
        ).withColumn(
            out_n,
            F.sqrt(F.aggregate(out_v, F.lit(0.0), lambda a, x: a + x * x)),
        )

    vq = _normed(queries, "q", "__vq", "__nq")
    vc = _normed(corpus, "c", "__vc", "__nc")
    # Denominator floored like the ADC kernel's 1e-12 guard: a zero vector
    # would otherwise yield NaN sims, and Spark orders NaN ABOVE any double,
    # so NaN rows would rank first in the top-k window.
    scored = short.join(vq, "q").join(vc, "c").select(
        "q",
        "c",
        (
            dot_unrolled(F.col("__vq"), F.col("__vc"), dim)
            / F.greatest(F.col("__nq") * F.col("__nc"), F.lit(1e-12))
        ).alias("sim"),
    )
    w = Window.partitionBy("q").orderBy(F.col("sim").desc(), F.col("c").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def pq_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 256,
    n_lists: int | None = None,
    n_probe: int = 4,
    shortlist: int | None = None,
    seed: int = 42,
    n_corpus: int | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou/Douze/Schmid, "Product
    quantization for nearest neighbor search", PAMI 2011), Spark-first —
    the one-shot composition of :func:`build_pq_index` +
    :func:`pq_query_index`:

    1. TRAIN (driver, on a seeded uniform sample): spherical-k-means
       coarse centroids (shared with ``ivf_top_k``'s scheme) plus ``m``
       per-sub-space L2 codebooks of ``ksub`` centroids each, trained
       on RESIDUALS from the assigned coarse centroid (the paper's
       IVFADC variant — raw-vector PQ collapses tight clusters onto one
       code word and cannot rank within them).
    2. ENCODE (one Arrow-batched pass over the corpus): each vector ->
       its nearest coarse list + an ``m``-code PQ word + the norm of
       its RECONSTRUCTION.  After this pass the candidate stage never
       touches the raw embedding again — at dim=64 the code word is
       m=8 small ints vs 64 doubles, the ~98% payload cut that makes
       the shuffle survivable when the corpus is 100 TB of vectors.
    3. CANDIDATES + ADC: queries probe their ``n_probe`` nearest lists
       (equi-join on list id, never all-pairs); each candidate is
       scored by asymmetric distance via per-query LOOKUP TABLES (the
       paper's ADC formulation): one ``m x ksub`` table of
       query-subvector x codebook-entry dots per distinct query in the
       Arrow batch (one einsum), then each candidate costs ``m`` table
       lookups + the coarse-centroid dot — identical numbers to
       reconstructing the candidate, without materializing a
       ``B x dim`` reconstruction per batch.
    4. RERANK: only the per-query ADC ``shortlist`` (default
       ``max(16k, 64)``) joins back to exact vectors; reported sims are
       EXACT cosines, so ``topk_invariants`` applies unchanged and
       recall-vs-brute is the only approximation surface (probed in
       ``tools/probe_pq_recall.py``).

    ``m`` is clipped to the largest divisor of the dimension; ``ksub``
    to the training-sample size and to 256 — the code word travels as
    ``m`` PACKED uint8 bytes in one binary column (dim=64/m=8: 8 code
    bytes + list id + norm ≈ 20 B/vector vs 512 B raw).  Same
    ``n_corpus`` contract as ``ivf_top_k``.  For repeated query batches
    against one corpus, build the index ONCE with
    :func:`build_pq_index`, persist it, and serve with
    :func:`pq_query_index` — identical results, no per-batch
    re-train/re-encode.
    """
    if n_corpus is None:
        n_corpus = corpus.count()
    if n_corpus == 0:
        return (
            queries.select(
                F.col(id_col).alias("q"),
                F.col(id_col).alias("c"),
                F.lit(0.0).alias("sim"),
            ).where(F.lit(False))
        )
    model_df, codes_df = build_pq_index(
        corpus, id_col, vec_col, m, ksub, n_lists, seed, n_corpus
    )
    return pq_query_index(
        queries, model_df, codes_df, corpus, k, id_col, vec_col,
        n_probe, shortlist,
    )


def topk_invariants(
    result: DataFrame,
    embeddings: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tol: float = 1e-9,
) -> DataFrame:
    """Deterministic invariant violation counters for an ANN top-k result
    (columns q, c, sim) — the verified-invariant oracle pattern (see
    pipeline/dedup.py): each count is provably 0 for a correct
    implementation regardless of the (approximate) candidate generation.

    - ``bad_sim``: rows whose reported similarity differs from the exact
      cosine recomputed from the vectors by more than ``tol``;
    - ``overfull_queries``: queries with more than ``k`` results;
    - ``self_matches``: rows with q == c (operators exclude self);
    - ``dup_pairs``: duplicated (q, c) rows.
    """
    from tsne_flink_spark.functions.metrics import dot_unrolled

    head = embeddings.select(vec_col).head()
    dim = len(head[0]) if head is not None else 0
    normed = embeddings.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    ).withColumn(
        "__n", F.sqrt(F.aggregate("__v", F.lit(0.0), lambda a, x: a + x * x))
    )
    va = normed.select(
        F.col("__id").alias("q"), F.col("__v").alias("__va"), F.col("__n").alias("__na")
    )
    vb = normed.select(
        F.col("__id").alias("c"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb")
    )
    cos = dot_unrolled(F.col("__va"), F.col("__vb"), dim) / (
        F.col("__na") * F.col("__nb")
    )
    bad_sim = (
        result.join(va, "q")
        .join(vb, "c")
        .where(F.abs(F.col("sim") - cos) > tol)
        .agg(F.count(F.lit(1)).alias("bad_sim"))
    )
    overfull = (
        result.groupBy("q")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > k)
        .agg(F.count(F.lit(1)).alias("overfull_queries"))
    )
    selfm = result.where(F.col("q") == F.col("c")).agg(
        F.count(F.lit(1)).alias("self_matches")
    )
    dups = (
        result.groupBy("q", "c")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .agg(F.count(F.lit(1)).alias("dup_pairs"))
    )
    return bad_sim.crossJoin(overfull).crossJoin(selfm).crossJoin(dups)
