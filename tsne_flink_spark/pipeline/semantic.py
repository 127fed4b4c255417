"""Semantic (embedding-space) deduplication — the SemDeDup pattern.

Near-duplicate removal driven by embedding similarity rather than lexical
overlap (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", arXiv:2303.09540): cluster the corpus
embeddings with spherical k-means, compare vectors ONLY within their
cluster, and keep one representative per connected component of the
within-cluster threshold graph.

Relationship to the neighbours in this package:

- ``dedup.embedding_cosine_dedup`` bounds candidates with sign-LSH bands —
  probabilistic recall, any pair anywhere can collide.
- ``semantic_dedup`` bounds candidates with a learned partition of the
  space — candidates are exact WITHIN a cluster, and pairs split across a
  cluster boundary are out of scope by design (the documented SemDeDup
  trade; identical vectors always share an argmax centroid, so exact
  duplicates are never split).

Scale design (100 TB): the centroid fit is a seeded bounded driver sample
(identical pattern to ``similarity.ivf_top_k``); assignment is one GEMM per
Arrow batch against broadcast centroids; the within-cluster pair join is an
equi-join on cluster id whose per-cluster work is (N/k)^2 with k ~ sqrt(N)
clusters — O(N^1.5) total, shuffle keyed on cluster id, AQE skew-splittable.
The final closure reuses ``operators.graph.connected_components``
(O(log diameter) rounds, O(|E|)-row shuffles).

Not SQL-expressible (iterative Lloyd fit) — gate coverage is a rows-only
query plus ``semantic_dedup_invariants``, which recomputes exact cosines
from the raw vectors and certifies the kill/keep decisions (same pattern
as the MinHash/SimHash check queries).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.operators.graph import connected_components
from tsne_flink_spark.pipeline.similarity import cosine_similarity_expr
from tsne_flink_spark.worker import skip_zip_rescan


def fit_spherical_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    seed: int = 42,
    n_corpus: int | None = None,
    lloyd_iters: int = 3,
) -> np.ndarray | None:
    """Seeded spherical k-means centroids from a bounded uniform sample
    (``None`` for an empty corpus).

    Mirrors the IVF coarse quantizer (similarity.ivf_top_k): a seeded
    ``sample`` (never ``limit`` — first-scanned rows degenerate on sorted
    input) capped at ``20 * n_clusters`` rows, refined with a few
    driver-side Lloyd iterations.  Deterministic given (seed, data).
    """
    if n_corpus is None:
        n_corpus = corpus.count()
    if n_clusters is None:
        n_clusters = max(4, min(4096, int(np.sqrt(max(n_corpus, 1)))))
    target = max(n_clusters * 20, 200)
    if n_corpus <= target:
        sample = corpus.select(vec_col).collect()
    else:
        frac = min(1.0, (target * 1.3) / n_corpus)
        sample = (
            corpus.select(vec_col).sample(False, frac, seed).limit(target).collect()
        )
    if not sample:
        return None  # empty corpus: nothing to cluster
    X = np.array([list(r[0]) for r in sample], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1)[:, None], 1e-12)
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(Xn), size=min(n_clusters, len(Xn)), replace=False)
    centroids = Xn[idx]
    for _ in range(lloyd_iters):
        assign = np.argmax(Xn @ centroids.T, axis=1)
        for j in range(len(centroids)):
            members = Xn[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
        centroids /= np.maximum(
            np.linalg.norm(centroids, axis=1)[:, None], 1e-12
        )
    return centroids


def assign_clusters(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, vec) — nearest-centroid (max cosine) assignment, one
    GEMM per Arrow batch against the broadcast centroid matrix.  Ties
    break to the lowest centroid index (numpy argmax), deterministically.
    """
    import pandas as pd

    C = np.ascontiguousarray(centroids, dtype=np.float64)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            Vn = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-12)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "cluster": np.argmax(Vn @ C.T, axis=1).astype("int32"),
                    "__v": pdf["__v"],
                }
            )

    narrowed = emb.select(
        F.col(id_col).alias("__id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__v"),
    )
    vec_t = "array<double>"
    return (
        narrowed.mapInPandas(
            kernel, schema=f"__id long, cluster int, __v {vec_t}"
        )
        .select(
            F.col("__id").alias(id_col),
            "cluster",
            F.col("__v").alias(vec_col),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """(id, cluster, group_id, keep): SemDeDup over an embedding column.

    ``group_id`` is the minimum member id of the row's within-cluster
    threshold-graph connected component (its own id when isolated);
    ``keep`` marks the one canonical representative per group.  Exact
    cosines decide edges — the clustering only bounds WHICH pairs are
    compared, so every kill is certified by a real >= threshold pair.

    Bit-equal vectors are collapsed to their min-id representative BEFORE
    clustering (one groupBy on a vector fingerprint) and re-expanded after
    — semantics are unchanged (identical vectors share an argmax centroid
    and a cosine-1 edge, so the family is one group either way; the family
    min IS the rep, so group ids agree), but the within-cluster pair join
    drops from O(family^2) to O(1) per duplicate family.  On the 100k-
    vector copy-heavy probe (tools/probe_semantic.py) this is the
    difference between ~15M and ~40k compared pairs.  Spark's
    double->string cast is shortest-round-trip (injective), so the
    fingerprint only merges genuinely bit-equal vectors.
    """
    from tsne_flink_spark.operators.optimize import materialize

    fp = F.md5(
        F.col(vec_col).cast("array<double>").cast("string")
    ).alias("__fp")
    with_fp = emb.select(F.col(id_col), F.col(vec_col), fp)
    families = materialize(
        with_fp.groupBy("__fp").agg(
            F.min(id_col).alias("__rep"),
            F.first(vec_col).alias(vec_col),
        )
    )
    reps = families.select(F.col("__rep").alias(id_col), vec_col)
    membership = with_fp.select(id_col, "__fp")

    centroids = fit_spherical_centroids(
        reps, vec_col=vec_col, n_clusters=n_clusters, seed=seed
    )
    if centroids is None:  # empty corpus
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} long, cluster int, group_id long, keep int"
        )
    assigned = materialize(assign_clusters(reps, centroids, id_col, vec_col))
    a = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("__va"),
    )
    b = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("__vb"),
    )
    edges = (
        a.join(b, "cluster")
        .where(F.col("a") < F.col("b"))
        .where(
            cosine_similarity_expr(F.col("__va"), F.col("__vb"))
            >= F.lit(float(threshold))
        )
        .select("a", "b")
    )
    comps = connected_components(edges, "a", "b").withColumnRenamed(
        "id", id_col
    )
    rep_result = (
        assigned.select(id_col, "cluster")
        .join(comps, id_col, "left")
        .select(
            F.col(id_col).alias("__rep"),
            "cluster",
            F.coalesce("component", F.col(id_col)).alias("group_id"),
        )
    )
    # re-expand the exact-dup families: every member inherits its rep's
    # cluster and group; only the rep (the family min, hence the group min
    # when it leads the component) can be the keeper
    rep_fp = families.select("__fp", "__rep")
    return (
        membership.join(rep_fp, "__fp")
        .join(rep_result, "__rep")
        .select(id_col, "cluster", "group_id")
        .withColumn("keep", (F.col("group_id") == F.col(id_col)).cast("int"))
    )


def semantic_dedup_invariants(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """One-row certificate (oracle: the constant (0, 0, 0) row).

    - ``bad_killed``: killed rows with NO same-cluster neighbour at exact
      cosine >= threshold (a kill nothing certifies);
    - ``bad_pairs``: SURVIVING same-cluster pairs at cosine >= threshold
      (two keepers that should have shared a group);
    - ``bad_groups``: groups whose keeper count != 1 or whose keeper is
      not the minimum member id.

    Cosines are recomputed from the raw vectors with the Column expression
    (JVM side), independent of the numpy kernel that built the clusters.
    """
    from tsne_flink_spark.operators.optimize import materialize

    spark = emb.sparkSession
    centroids = fit_spherical_centroids(
        emb, vec_col=vec_col, n_clusters=n_clusters, seed=seed
    )
    if centroids is None:  # empty corpus: vacuously sound
        return spark.createDataFrame(
            [(0, 0, 0)], "bad_killed long, bad_pairs long, bad_groups long"
        )
    assigned = materialize(assign_clusters(emb, centroids, id_col, vec_col))
    result = materialize(
        semantic_dedup(
            emb,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            n_clusters=n_clusters,
            seed=seed,
        )
    )
    joined = assigned.join(result.select(id_col, "group_id", "keep"), id_col)
    a = joined.select(
        "cluster",
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("__va"),
        F.col("keep").alias("__ka"),
    )
    b = joined.select(
        "cluster",
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("__vb"),
        F.col("keep").alias("__kb"),
    )
    pairs = (
        a.join(b, "cluster")
        .where(F.col("a") != F.col("b"))
        .withColumn(
            "__sim", cosine_similarity_expr(F.col("__va"), F.col("__vb"))
        )
    )
    over = pairs.where(F.col("__sim") >= F.lit(float(threshold)))
    killed = joined.where(F.col("keep") == 0).select(F.col(id_col).alias("a"))
    bad_killed = killed.join(
        over.select("a").distinct(), "a", "left_anti"
    ).count()
    bad_pairs = (
        over.where((F.col("__ka") == 1) & (F.col("__kb") == 1))
        .where(F.col("a") < F.col("b"))
        .count()
    )
    bad_groups = (
        result.groupBy("group_id")
        .agg(
            F.sum("keep").alias("__nk"),
            F.min(id_col).alias("__mn"),
            F.min(F.when(F.col("keep") == 1, F.col(id_col))).alias("__kid"),
        )
        .where(
            (F.col("__nk") != 1)
            | (F.col("__mn") != F.col("group_id"))
            | (F.col("__kid") != F.col("group_id"))
        )
        .count()
    )
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(int(bad_killed), int(bad_pairs), int(bad_groups))],
        "bad_killed long, bad_pairs long, bad_groups long",
    )


def semantic_decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, max_holdout_sim) for every TRAIN vector whose cosine to ANY
    holdout vector reaches ``threshold`` — embedding-space
    decontamination, the semantic complement of the n-gram
    ``decontaminate``: paraphrased or reformatted eval leakage that
    shares no exact n-grams still lands next to its source in embedding
    space (the modern eval-contamination sweep).  Join the result back
    as a kill list.

    EXACT and engine-replayable: cosines are computed as sequential
    fold dot products over double-cast arrays — the same operation
    order as DuckDB's list_dot_product — so the kill DECISION at the
    threshold boundary is bit-identical in both engines (a GEMM
    computes blocked/pairwise sums whose last-ulp differences can flip
    a boundary row).  Dataflow: per-row norms once per side, then a
    broadcast nested-loop of train x holdout (the holdout is an eval
    set — thousands of rows, always the broadcast side) and one
    groupBy(id) max.  At extreme holdout sizes switch to the GEMM
    brute path (pipeline/similarity.brute_force_top_k, k=1) and accept
    rows-only gating — the tradeoff the ANN family documents."""

    def _prep(df: DataFrame, prefix: str) -> DataFrame:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        sq = F.aggregate(
            F.transform(v, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols = [v.alias(f"{prefix}v"), F.sqrt(sq).alias(f"{prefix}n")]
        if prefix == "t":
            cols = [F.col(id_col).alias("__id"), *cols]
        return df.select(*cols)

    t = _prep(train, "t")
    h = _prep(holdout, "h")
    dot = F.aggregate(
        F.zip_with(F.col("tv"), F.col("hv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / F.greatest(F.col("tn") * F.col("hn"), F.lit(1e-12))
    return (
        t.crossJoin(F.broadcast(h))
        .select("__id", sim.alias("__s"))
        .groupBy("__id")
        .agg(F.max("__s").alias("max_holdout_sim"))
        .where(F.col("max_holdout_sim") >= F.lit(float(threshold)))
        .select(F.col("__id").alias(id_col), "max_holdout_sim")
    )
