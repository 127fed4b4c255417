"""End-to-end facade tests: TSNE.fit on points and on a precomputed distance
matrix (the reference's two entry points, Tsne.scala:69-79)."""

import numpy as np
import pytest

from tsne_flink_spark.sources.readers import coo_from_rows, points_from_rows
from tsne_flink_spark.tsne import TSNE


def test_fit_points_bruteforce(spark):
    rng = np.random.default_rng(0)
    # two well-separated clusters
    pts = [(i, (rng.normal(0, 0.1, 4) + (0 if i < 10 else 5)).tolist()) for i in range(20)]
    df = points_from_rows(spark, pts)
    model = TSNE(
        perplexity=3.0, neighbors=6, iterations=25, theta=0.0,
        learning_rate=100, random_state=0,
    )
    emb = {r["id"]: np.array(r["y"]) for r in model.fit(points=df).collect()}
    assert len(emb) == 20
    # KL loss recorded on schedule
    assert [it for it, _ in sorted(model.loss_records)] == [10, 20]
    # clusters separate: mean intra-cluster distance < inter-cluster distance
    a = np.array([emb[i] for i in range(10)])
    b = np.array([emb[i] for i in range(10, 20)])
    inter = np.linalg.norm(a.mean(0) - b.mean(0))
    intra = max(np.linalg.norm(a - a.mean(0), axis=1).mean(),
                np.linalg.norm(b - b.mean(0), axis=1).mean())
    assert inter > intra


def test_fit_distance_matrix(spark):
    rng = np.random.default_rng(1)
    X = rng.normal(0, 1, (12, 6))
    rows = []
    for i in range(12):
        for j in range(12):
            if i != j:
                rows.append((i, j, float(((X[i] - X[j]) ** 2).sum())))
    dist = coo_from_rows(spark, rows)
    model = TSNE(perplexity=3.0, iterations=5, theta=0.5, random_state=0)
    emb = model.fit(distances=dist).collect()
    assert len(emb) == 12
    assert all(len(r["y"]) == 2 for r in emb)


def test_fit_requires_exactly_one_input(spark):
    model = TSNE()
    with pytest.raises(ValueError):
        model.fit()


@pytest.mark.parametrize("n_components", [0, -1])
def test_fit_rejects_nonpositive_n_components(spark, n_components):
    """Rejected at construction, so fit, plan and any later entry point
    never see it (a zero-width embedding would fail deep in the tree)."""
    df = points_from_rows(spark, [(i, [float(i), 0.0]) for i in range(5)])
    with pytest.raises(ValueError, match="n_components must be >= 1"):
        TSNE(n_components=n_components).fit(points=df)
    with pytest.raises(ValueError, match="n_components must be >= 1"):
        TSNE(n_components=n_components, dimension=2).plan(points=df)


@pytest.mark.parametrize("tree_build", ["stub", "drivers"])
def test_tree_build_rejected_before_any_job(spark, tree_build):
    """A tree_build that is not "auto", "driver" or "summary" fails when
    TSNE is constructed, and optimize, iteration_computation and gradient
    reject it before their first job.  The plan-only "stub" (an empty tree,
    sumQ 0) is accepted only inside plan(), which still runs no job."""
    from tsne_flink_spark.operators.embedding import init_working_set
    from tsne_flink_spark.operators.gradient import gradient
    from tsne_flink_spark.operators.optimize import (
        iteration_computation,
        optimize,
    )

    df = points_from_rows(spark, [(i, [float(i), 0.0]) for i in range(6)])
    p = coo_from_rows(spark, [(0, 1, 0.5), (1, 0, 0.5)])
    ws = init_working_set(df.select("id"))
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    calls = [
        lambda: TSNE(tree_build=tree_build),
        lambda: optimize(p, ws, iterations=2, tree_build=tree_build),
        lambda: iteration_computation(2, 0.5, ws, p, tree_build=tree_build),
        lambda: gradient(p, ws.select("id", "y"), theta=0.5,
                         tree_build=tree_build),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="tree_build"):
            call()
    TSNE(perplexity=2.0, neighbors=3, knn_method="partition",
         dimension=2).plan(points=df)
    assert len(tracker.getJobIdsForGroup(None)) == jobs_before


def test_cli_rejects_nonpositive_n_components(capsys):
    from tsne_flink_spark.cli import build_parser

    argv = ["--input", "in.csv", "--output", "out", "--dimension", "2"]
    assert build_parser().parse_args(argv + ["--nComponents", "3"]).nComponents == 3
    with pytest.raises(SystemExit) as exc:
        build_parser().parse_args(argv + ["--nComponents", "0"])
    assert exc.value.code == 2
    assert "--nComponents: must be >= 1" in capsys.readouterr().err


def test_execution_plan_runs_no_job(spark, tmp_path):
    """--executionPlan must dump the plan WITHOUT executing the pipeline
    (Tsne.scala:89-95): plan file written, no output produced, zero Spark
    jobs submitted."""
    import numpy as np

    from tsne_flink_spark.cli import main

    rng = np.random.default_rng(3)
    X = rng.normal(0, 1, (12, 4))
    csv = tmp_path / "pts.csv"
    csv.write_text(
        "".join(f"{i},{j},{X[i, j]}\n" for i in range(12) for j in range(4))
    )
    out_dir = tmp_path / "out"
    plan_file = tmp_path / "plan.txt"
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    main([
        "--input", str(csv), "--output", str(out_dir), "--dimension", "4",
        "--knnMethod", "bruteforce", "--neighbors", "5", "--perplexity", "3",
        "--iterations", "12", "--theta", "0.25",
        "--executionPlan", str(plan_file),
    ])
    jobs_after = len(tracker.getJobIdsForGroup(None))
    assert jobs_after == jobs_before, "plan-only mode submitted Spark jobs"
    assert plan_file.exists()
    text = plan_file.read_text()
    assert "Physical Plan" in text or "AdaptiveSparkPlan" in text
    assert not out_dir.exists()  # pipeline did not run, nothing was written


def test_execution_plan_project_knn_runs_no_job(spark, tmp_path):
    """Plan-only must also be job-free for knn_method=project (stub bounds +
    placeholder rank; zipWithIndex would otherwise submit jobs at plan
    CONSTRUCTION time — round-2 review finding)."""
    import numpy as np

    from tsne_flink_spark.cli import main

    rng = np.random.default_rng(5)
    X = rng.normal(0, 1, (12, 4))
    csv = tmp_path / "pts.csv"
    csv.write_text(
        "".join(f"{i},{j},{X[i, j]}\n" for i in range(12) for j in range(4))
    )
    plan_file = tmp_path / "plan.txt"
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    main([
        "--input", str(csv), "--output", str(tmp_path / "out"),
        "--dimension", "4", "--knnMethod", "project", "--neighbors", "5",
        "--perplexity", "3", "--iterations", "5", "--theta", "0.25",
        "--executionPlan", str(plan_file),
    ])
    assert len(tracker.getJobIdsForGroup(None)) == jobs_before
    assert plan_file.exists()
    assert not (tmp_path / "out").exists()


def test_embedding_quality_knn_preservation(spark):
    """Embedding-quality gate (round-2 task #7): on clustered input the 2-D
    embedding's 10-NN neighborhoods must (a) stay within the input cluster
    (purity >> 1/n_clusters chance) and (b) overlap the input-space 10-NN
    well above the 10/(N-1) chance floor.  Driver-measured reference run:
    purity 0.956, preservation 0.175 at N=500/30 iters (BASELINE B16); the
    driver testdata embeddings are structureless iid noise where this metric
    is pinned at chance, hence the synthetic clustered fixture.
    """
    import numpy as np

    from tsne_flink_spark.tsne import TSNE

    rng = np.random.default_rng(42)
    n_clusters, per = 8, 40
    centers = rng.normal(0, 4.0, (n_clusters, 16))
    X = np.concatenate(
        [centers[i] + rng.normal(0, 0.5, (per, 16)) for i in range(n_clusters)]
    )
    n = len(X)
    labels = np.repeat(np.arange(n_clusters), per)
    emb = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "id int, features array<double>"
    )

    model = TSNE(
        perplexity=10.0, iterations=20, theta=0.5, knn_method="partition",
        neighbors=15, random_state=0, bh_condition="scaled",
    )
    out = model.fit(points=emb)
    Y = np.zeros((n, 2))
    for r in out.collect():
        Y[r["id"]] = r["y"]

    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d2, np.inf)
    in_nn = np.argpartition(d2, 10, axis=1)[:, :10]
    e2 = ((Y[:, None, :] - Y[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(e2, np.inf)
    out_nn = np.argpartition(e2, 10, axis=1)[:, :10]

    purity = float(
        np.mean([np.mean(labels[out_nn[i]] == labels[i]) for i in range(n)])
    )
    preservation = float(
        np.mean([len(set(in_nn[i]) & set(out_nn[i])) / 10 for i in range(n)])
    )
    # chance: purity 1/8 = 0.125, preservation 10/319 = 0.031
    assert purity >= 0.75, f"cluster purity {purity:.3f}"
    assert preservation >= 0.08, f"10-NN preservation {preservation:.3f}"


@pytest.mark.parametrize("source", ["partition", "distances"])
def test_plan_is_fit_shape_without_jobs(spark, source):
    """TSNE.plan() plans the shape fit runs — the P kernel emitting the
    symmetric edges, one exchange into the P rows, the fused pass — and
    runs no job: one Python pass before the fused kernel, no joint-P
    total aggregate."""
    rng = np.random.default_rng(2)
    X = rng.normal(0, 1, (12, 4))
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    if source == "partition":
        df = points_from_rows(spark, [(i, X[i].tolist()) for i in range(12)])
        planned = TSNE(perplexity=3.0, neighbors=5, knn_method="partition",
                       dimension=4).plan(points=df)
        python_stages = ("MapInArrow", 2)
    else:
        dist = coo_from_rows(spark, [
            (i, j, float(((X[i] - X[j]) ** 2).sum()))
            for i in range(12) for j in range(12) if i != j
        ])
        planned = TSNE(perplexity=3.0).plan(distances=dist)
        python_stages = ("MapInPandas", 1)
    text = planned._jdf.queryExecution().executedPlan().toString()
    assert len(tracker.getJobIdsForGroup(None)) == jobs_before
    name, count = python_stages
    assert text.count(name) == count, text
    assert "__sum_p" not in text
