"""The benchmark's workloads.

Each workload turns a seed into inputs (``prepare``), runs one job through
the engine's public entry points (``job``), checks that job's output
(``check``), and runs the same work again layer by layer under a tracer
(``traced``).  The engine only ever sees the generated DataFrames.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from perfbench import checks, inputs
from tsne_flink_spark.operators.affinities import (
    joint_distribution,
    pairwise_affinities,
)
from tsne_flink_spark.operators.embedding import init_working_set
from tsne_flink_spark.operators.knn import partition_knn
from tsne_flink_spark.operators.ndtree import build_ndtree
from tsne_flink_spark.operators.optimize import (
    LOSS_EVERY,
    iteration_computation,
    materialize,
)
from tsne_flink_spark.pipeline.dedup import (
    containment_pairs,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
)
from tsne_flink_spark.tsne import TSNE

KERNEL_REPS = 5  # driver-side tree kernel spans: median of this many

# tsne_short: the flagship's settings on a shorter schedule, sized so that
# 22 runs fit an hour on a 4-core host
TSNE_N = 2000
TSNE_D = 32
TSNE_ITERATIONS = 2

# corpus_dedup: the miners' settings as the workload calls them
DEDUP_BASE_DOCS = 600
JACCARD_T = 0.5
JACCARD_N = 2
CONTAINMENT_T = 0.8
CONTAINMENT_N = 3
CONTAINMENT_MAX_DF = 25
MINHASH_T = 0.8
MINHASH_N = 3  # minhash_lsh_dedup's default shingle size


# ---------------------------------------------------------------------------
# t-SNE
# ---------------------------------------------------------------------------


class TsneWorkload:
    """``TSNE(...).fit(points=...)`` on a seeded Gaussian mixture, with the
    flagship query's settings, then a collect of the embedding."""

    def __init__(self):
        self.points: inputs.Points | None = None
        self.df: DataFrame | None = None
        self._y_ref: np.ndarray | None = None

    def estimator(self) -> TSNE:
        return TSNE(
            perplexity=10,
            neighbors=15,
            theta=0.5,
            bh_condition="scaled",
            knn_method="partition",
            iterations=TSNE_ITERATIONS,
            random_state=0,
        )

    def prepare(self, spark: SparkSession, seed: int) -> None:
        self.points = inputs.point_mixture(seed, TSNE_N, TSNE_D)
        rows = list(zip(self.points.ids.tolist(), self.points.features.tolist()))
        self.df = materialize(
            spark.createDataFrame(rows, "id int, features array<double>")
        )
        self._y_ref = None

    def describe(self) -> dict:
        return {"n": TSNE_N, "d": TSNE_D, "iterations": TSNE_ITERATIONS,
                "clusters": inputs.CLUSTERS,
                "centre_spread": inputs.CENTRE_SPREAD}

    def job(self):
        return self.estimator().fit(points=self.df).collect()

    def check(self, out) -> tuple[list[str], dict]:
        ids = np.array([r["id"] for r in out], dtype=np.int64)
        y = np.array([r["y"] for r in out], dtype=np.float64).reshape(len(out), -1)
        return checks.check_embedding(ids, y, self.points.ids, self.reference()), {}

    def reference(self) -> np.ndarray:
        """The NumPy replay of the fit from the engine's own initial
        embedding (``init_working_set`` on the same DataFrame, so the same
        partition-seeded draw), rows by id."""
        if self._y_ref is None:
            est = self.estimator()
            rows = init_working_set(
                self.df.select("id"), est.n_components, est.random_state
            ).select("id", "y").collect()
            y0 = np.zeros((TSNE_N, est.n_components))
            y0[[r["id"] for r in rows]] = [r["y"] for r in rows]
            self._y_ref = checks.tsne_replay(
                self.points.features, y0, est.iterations, est.perplexity, est._k,
                est.theta, est.bh_condition,
                learning_rate=est.learning_rate,
                exaggeration=est.early_exaggeration,
                momentum=est.initial_momentum,
            )
        return self._y_ref

    def traced(self, tracer) -> tuple[list, dict]:
        """The fit, step by step through the public operators, materializing
        at each layer boundary; then the d=2 tree kernels on the final Y, and
        one loss iteration when the schedule has none."""
        est = self.estimator()
        k = est._k
        t0 = time.perf_counter()
        with tracer.span("knn"):
            knn = materialize(partition_knn(self.df, k, est.metric, est.knn_blocks))
        with tracer.span("affinities"):
            p_cond = materialize(pairwise_affinities(knn, est.perplexity))
        with tracer.span("joint"):
            p_joint = materialize(joint_distribution(p_cond))
        with tracer.span("init"):
            ws = materialize(
                init_working_set(
                    self.df.select("id"), est.n_components, est.random_state
                )
            )
        # optimize()'s schedule: exaggerated P for the first 101 iterations,
        # initial momentum for the first 20
        exaggerated = p_joint.select(
            "i", "j", (p_joint["v"] * float(est.early_exaggeration)).alias("v")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_hint = int(ws.count())
        losses: list = []
        for it in range(1, est.iterations + 1):
            name = "iter_loss" if it % LOSS_EVERY == 0 else "iter"
            with tracer.span(name, iteration=it):
                ws = self._step(est, it, ws, exaggerated, p_joint, n_hint, losses)
        with tracer.span("readout"):
            out = ws.select("id", "y").collect()
        pipeline_s = time.perf_counter() - t0
        if est.iterations < LOSS_EVERY:
            # the timed fit has no loss iteration; cost one on the final state
            with tracer.span("iter_loss", iteration=LOSS_EVERY, extra=True):
                self._step(est, LOSS_EVERY, ws, exaggerated, p_joint, n_hint, [])
        exaggerated.unpersist()

        y = np.array([r["y"] for r in out], dtype=np.float64).reshape(len(out), -1)
        kernels = self._tree_kernels(y, est)
        return out, {"pipeline_s": pipeline_s, "losses": losses, **kernels}

    @staticmethod
    def _step(est, it, ws, exaggerated, plain, n_hint, losses):
        momentum = est.initial_momentum if it <= 20 else est.final_momentum
        p = exaggerated if it <= 101 else plain
        return iteration_computation(
            1, momentum, ws, p,
            metric=est.metric,
            learning_rate=est.learning_rate,
            theta=est.theta,
            n_components=est.n_components,
            iter_offset=it - 1,
            loss_sink=losses,
            bh_condition=est.bh_condition,
            tree_build=est.tree_build,
            n_hint=n_hint,
        )

    @staticmethod
    def _tree_kernels(y: np.ndarray, est) -> dict:
        """Median build and evaluation seconds of QuadTree and NDTree on the
        final d=2 embedding, as one BH iteration uses them."""
        from tsne_flink_spark.operators.quadtree import build_quadtree

        times = {k: [] for k in ("quadtree_build_s", "quadtree_eval_s",
                                 "ndtree_build_s", "ndtree_eval_s")}
        for _ in range(KERNEL_REPS):
            for tag, build in (("quadtree", build_quadtree), ("ndtree", build_ndtree)):
                t0 = time.perf_counter()
                tree = build(y)
                t1 = time.perf_counter()
                tree.repulsive_forces(y, est.theta, condition=est.bh_condition)
                t2 = time.perf_counter()
                times[f"{tag}_build_s"].append(t1 - t0)
                times[f"{tag}_eval_s"].append(t2 - t1)
        return {f"bh.{k}": statistics.median(v) for k, v in times.items()}


# ---------------------------------------------------------------------------
# corpus dedup
# ---------------------------------------------------------------------------


class DedupWorkload:
    """Three near-duplicate miners over one seeded Zipf corpus, each result
    collected."""

    def __init__(self):
        self.corpus: inputs.Corpus | None = None
        self.df: DataFrame | None = None
        self._verified: dict = {}

    def prepare(self, spark: SparkSession, seed: int) -> None:
        self.corpus = inputs.zipf_corpus(seed, DEDUP_BASE_DOCS)
        rows = list(zip(self.corpus.ids.tolist(), self.corpus.texts))
        self.df = materialize(
            spark.createDataFrame(rows, "doc_id long, text string")
        )

    def describe(self) -> dict:
        return {"base_docs": DEDUP_BASE_DOCS, "vocab": inputs.VOCAB,
                "jaccard": [JACCARD_T, JACCARD_N],
                "containment": [CONTAINMENT_T, CONTAINMENT_N, CONTAINMENT_MAX_DF],
                "minhash": [MINHASH_T, MINHASH_N],
                "docs": len(self.corpus.texts),
                "planted_near_dups": len(self.corpus.near_dups),
                "planted_quotes": len(self.corpus.quotes)}

    def _calls(self):
        return (
            ("ngram_jaccard", lambda: ngram_jaccard_pairs(
                self.df, threshold=JACCARD_T, shingle_n=JACCARD_N)),
            ("containment", lambda: containment_pairs(
                self.df, threshold=CONTAINMENT_T, shingle_n=CONTAINMENT_N,
                max_df=CONTAINMENT_MAX_DF)),
            ("minhash", lambda: minhash_lsh_dedup(
                self.df, threshold=MINHASH_T).select("doc_id")),
        )

    def job(self):
        return {name: call().collect() for name, call in self._calls()}

    def check(self, out) -> tuple[list[str], dict]:
        """Oracle checks; an output identical to one already checked reuses
        that verdict."""
        jac = sorted((r[0], r[1], r[2]) for r in out["ngram_jaccard"])
        con = sorted((r[0], r[1], r[2]) for r in out["containment"])
        kept = sorted(r[0] for r in out["minhash"])
        key = (tuple(jac), tuple(con), tuple(kept))
        if key not in self._verified:
            texts = self.corpus.texts
            n = len(texts)
            problems = (
                checks.check_pairs("jaccard", jac, checks.jaccard_pairs(
                    checks.ShingleOracle(texts, JACCARD_N), n, JACCARD_T))
                + checks.check_pairs("containment", con, checks.containment_pairs(
                    checks.ShingleOracle(texts, CONTAINMENT_N), n, CONTAINMENT_T,
                    CONTAINMENT_MAX_DF))
                + checks.check_minhash_keep(
                    kept, checks.ShingleOracle(texts, MINHASH_N), n, MINHASH_T)
            )
            self._verified[key] = problems
        info = {
            "jaccard_pairs": len(jac),
            "containment_pairs": len(con),
            "minhash_kept": len(kept),
        }
        return self._verified[key], info

    def traced(self, tracer) -> tuple[dict, dict]:
        out = {}
        t0 = time.perf_counter()
        for name, call in self._calls():
            with tracer.span(name):
                out[name] = call().collect()
        return out, {"pipeline_s": time.perf_counter() - t0}


WORKLOADS = {
    "tsne_short": TsneWorkload,
    "corpus_dedup": DedupWorkload,
}
