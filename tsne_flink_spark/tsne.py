"""Estimator-style facade over the full t-SNE pipeline.

Parameter set mirrors the reference CLI (README.md:13-38, defaults at
Tsne.scala:45-63).  ``fit`` accepts either assembled points
(id, features) or a precomputed distance matrix in COO form (the reference's
--inputDistanceMatrix entry point B, Tsne.scala:69-71).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.functions.metrics import checked_point
from tsne_flink_spark.operators.affinities import pairwise_affinities
from tsne_flink_spark.operators.embedding import init_working_set
from tsne_flink_spark.operators.gradient import (
    attach_p,
    check_tree_build,
    dy,
    fused_pass,
)
from tsne_flink_spark.operators.knn import (
    k_nearest_neighbors,
    partition_knn,
    project_knn,
)
from tsne_flink_spark.operators.optimize import optimize
from tsne_flink_spark.operators.partials import Partials


@dataclass
class TSNE:
    metric: str = "sqeuclidean"
    perplexity: float = 30.0
    n_components: int = 2
    early_exaggeration: float = 4.0
    learning_rate: float = 1000.0
    iterations: int = 300
    random_state: int = 0
    neighbors: int | None = None  # default 3 * floor(perplexity) (Tsne.scala:55)
    initial_momentum: float = 0.5
    final_momentum: float = 0.8
    theta: float = 0.25
    # "reference" replicates quirk Q2 (summary vs SQUARED distance — exact
    # O(N^2) on compressed embeddings); "scaled" is canonical Barnes-Hut
    bh_condition: str = "reference"
    # "auto" (default): full driver-built tree below a 64 MB broadcast
    # budget (reference parity), far-field summary above it (O(1)-in-N
    # broadcast — the 100-TB path, BASELINE.md B14; it falls back to the
    # driver build where its plan declines); "driver"/"summary" force a path
    tree_build: str = "auto"
    knn_method: str = "bruteforce"  # bruteforce | partition | project
    # 3 = reference parity (Tsne.scala:61 knnIterations default).  The bare
    # project_knn operator defaults to 4 passes (recall 0.853 at N=100k);
    # the facade's 3-pass point with the +-256 window is also measured:
    # recall 0.765 at the same scale (BASELINE.md B10b sweep).
    knn_iterations: int = 3
    knn_blocks: int | None = None
    # input dimensionality; when set, the kNN distance expression is built
    # without probing the data (keeps plan construction action-free)
    dimension: int | None = None
    loss_records: list = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.n_components < 1:
            raise ValueError(
                f"n_components must be >= 1, got {self.n_components}"
            )
        check_tree_build(self.tree_build)

    @property
    def _k(self) -> int:
        return self.neighbors if self.neighbors is not None else 3 * int(self.perplexity)

    def _p_edges(
        self, points: DataFrame | None, distances: DataFrame | None, plan=False
    ) -> tuple[DataFrame, Partials]:
        """The symmetric P(j|i) edges, and the ``Partials`` their kernel's
        tasks add P's total and their point count to: the kNN block kernel
        for ``"partition"``, else ``pairwise_affinities`` over the kNN."""
        if (points is None) == (distances is None):
            raise ValueError("provide exactly one of points= or distances=")
        source = points if points is not None else distances
        partials = Partials(source.sparkSession.sparkContext, 2)
        k, metric = self._k, self.metric
        if distances is not None:
            knn = distances.select(
                "i", "j", checked_point("TSNE.fit", F.col("i"), F.col("v")).alias("v")
            )
        elif self.knn_method == "partition":
            return partition_knn(points, k, metric, self.knn_blocks,
                                 self.perplexity, partials), partials
        elif self.knn_method == "bruteforce":
            knn = k_nearest_neighbors(points, k, metric, dim=self.dimension)
        elif self.knn_method == "project":
            knn = project_knn(
                points, k, metric, dimension=self.dimension,
                iterations=self.knn_iterations, seed=self.random_state,
                _plan_stub=plan,
            )
        else:
            raise ValueError(f"unknown knn_method {self.knn_method!r}")
        return pairwise_affinities(knn, self.perplexity, partials), partials

    def _working_set(self, points, distances) -> DataFrame:
        ids = points if points is not None else distances.select(
            F.explode(F.array("i", "j")).alias("id")).distinct()
        return init_working_set(ids.select("id"), self.n_components, self.random_state)

    def fit(
        self, points: DataFrame | None = None, distances: DataFrame | None = None
    ) -> DataFrame:
        """Run the pipeline; returns the final (id, y ARRAY<DOUBLE>) embedding.

        Exactly one of ``points`` (id, features) / ``distances`` (i, j, v COO)
        must be given.  The input reaches the loop's P rows through one P
        kernel pass and one exchange; P's total and N come from its tasks.
        """
        p_edges, partials = self._p_edges(points, distances)
        self.loss_records.clear()
        return optimize(
            p_edges,
            self._working_set(points, distances),
            learning_rate=self.learning_rate,
            iterations=self.iterations,
            metric=self.metric,
            early_exaggeration=self.early_exaggeration,
            initial_momentum=self.initial_momentum,
            final_momentum=self.final_momentum,
            theta=self.theta,
            n_components=self.n_components,
            loss_sink=self.loss_records,
            bh_condition=self.bh_condition,
            tree_build=self.tree_build,
            p_partials=partials,
        )

    def plan(
        self, points: DataFrame | None = None, distances: DataFrame | None = None
    ) -> DataFrame:
        """Assemble the ONE-ITERATION pipeline plan lazily — no job runs.

        The reference's ``--executionPlan`` dumps the lazily assembled Flink
        job graph without executing it (Tsne.scala:89-95); the Spark analogue
        is the physical plan of ``fit``'s shape: P kernel -> P attach ->
        fused gradient pass (against a stub broadcast tree, the plan-only
        ``tree_build="stub"`` that ``fit`` rejects) -> update step,
        with the loop's driver-side values (P's total, sumQ, the centring
        mean) as placeholders and no ``materialize()``.  The update is
        shown as the summary regime's projection; where the driver builds
        the tree, ``fit`` runs the same update in NumPy on the state it
        keeps on the driver, and each iteration's one job is the kernel
        alone.  With ``dimension``
        set, that runs ZERO Spark jobs for every knn_method: ``"project"``
        is planned in stub mode (placeholder quantization bounds and a lazy
        placeholder rank, as its real global rank is inherently eager).
        """
        from tsne_flink_spark.operators.embedding import update_step
        from tsne_flink_spark.operators.optimize import MIN_GAIN

        p_edges, _ = self._p_edges(points, distances, plan=True)
        kern, _, _ = fused_pass(
            attach_p(self._working_set(points, distances), p_edges),
            self.theta,
            self.n_components,
            self.metric,
            exaggeration=self.early_exaggeration,
            bh_condition=self.bh_condition,
            tree_build="stub",
        )
        step = update_step(
            dy(F.lit(1.0)), ["id"], MIN_GAIN, self.initial_momentum,
            self.learning_rate,
        )
        return step(kern).select("id", "y")
