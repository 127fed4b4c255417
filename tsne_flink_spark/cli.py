"""spark-submit-able CLI with the reference's parameter surface
(README.md:13-38, parsing at Tsne.scala:33-103).

Example:
    spark-submit -m tsne_flink_spark --input in.csv --output out \
        --dimension 784 --knnMethod bruteforce
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from tsne_flink_spark.sources.readers import read_distance_matrix, read_points
from tsne_flink_spark.sources.writers import (
    write_embedding_csv,
    write_execution_plan,
    write_loss,
)
from tsne_flink_spark.tsne import TSNE


def _positive_int(text: str) -> int:
    value = int(text)
    if value < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {value}")
    return value


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="tsne_flink_spark")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--dimension", type=int, required=True)
    p.add_argument(
        "--knnMethod", choices=["bruteforce", "partition", "project"],
        default="bruteforce",
        help="'partition' broadcasts all features (8*N*d bytes held by the "
             "driver and each executor); 'project' is the path for scale",
    )
    p.add_argument("--inputDistanceMatrix", action="store_true")
    p.add_argument("--metric", default="sqeuclidean",
                   choices=["sqeuclidean", "euclidean", "cosine"])
    p.add_argument("--perplexity", type=float, default=30.0)
    p.add_argument("--nComponents", type=_positive_int, default=2)
    p.add_argument("--earlyExaggeration", type=float, default=4.0)
    p.add_argument("--learningRate", type=float, default=1000.0)
    p.add_argument("--iterations", type=int, default=300)
    p.add_argument("--randomState", type=int, default=0)
    p.add_argument("--neighbors", type=int, default=None)
    p.add_argument("--initialMomentum", type=float, default=0.5)
    p.add_argument("--finalMomentum", type=float, default=0.8)
    p.add_argument("--theta", type=float, default=0.25)
    p.add_argument("--bhCondition", choices=["reference", "scaled"],
                   default="reference",
                   help="Barnes-Hut summary condition: 'reference' replicates "
                        "the reference's non-scale-invariant test (quirk Q2); "
                        "'scaled' is canonical scale-invariant Barnes-Hut")
    p.add_argument("--treeBuild",
                   choices=["auto", "driver", "summary"],
                   default="auto",
                   help="Barnes-Hut tree build (any --nComponents; the "
                        "reference's quadtree at 2): 'auto' (default) uses the "
                        "driver-built full tree below a 64 MB broadcast "
                        "budget and the far-field summary above it; "
                        "'driver' keeps Y (and the optimizer state) on the "
                        "driver and builds the tree there; "
                        "'summary' replaces the per-iteration O(N) tree "
                        "broadcast with a depth-capped far-field summary + "
                        "near-field shuffle (the 100-TB scale path; falls "
                        "back to 'driver' where its plan declines: small N, "
                        "zero extent, or a halo covering the grid)")
    # the reference documents --lossFile but reads key "loss" (quirk Q5):
    # accept both spellings.
    p.add_argument("--lossFile", "--loss", dest="loss_file", default="loss.txt")
    p.add_argument("--knnIterations", type=int, default=3)
    p.add_argument("--knnBlocks", type=int, default=None)
    p.add_argument("--executionPlan", default=None,
                   help="dump the physical plan to this file instead of running")
    p.add_argument("--shufflePartitions", type=int, default=None,
                   help="spark.sql.shuffle.partitions (default: 2x cores)")
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    import os

    shuffle = args.shufflePartitions or 2 * (os.cpu_count() or 8)
    spark = (
        SparkSession.builder.appName("TSNE")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.defaultSizeInBytes", str(64 * 1024 * 1024))
        .getOrCreate()
    )

    model = TSNE(
        metric=args.metric,
        perplexity=args.perplexity,
        n_components=args.nComponents,
        early_exaggeration=args.earlyExaggeration,
        learning_rate=args.learningRate,
        iterations=args.iterations,
        random_state=args.randomState,
        neighbors=args.neighbors,
        initial_momentum=args.initialMomentum,
        final_momentum=args.finalMomentum,
        theta=args.theta,
        bh_condition=args.bhCondition,
        tree_build=args.treeBuild,
        knn_method=args.knnMethod,
        knn_iterations=args.knnIterations,
        knn_blocks=args.knnBlocks,
        dimension=args.dimension,
    )

    if args.inputDistanceMatrix:
        inputs = {"distances": read_distance_matrix(spark, args.input)}
    else:
        inputs = {"points": read_points(spark, args.input, args.dimension)}

    if args.executionPlan:
        # plan-only: dump the one-iteration physical plan WITHOUT running
        # the pipeline (Tsne.scala:89-95 — the reference prints the plan of
        # the unexecuted job graph and exits)
        write_execution_plan(model.plan(**inputs), args.executionPlan)
        return

    embedding = model.fit(**inputs)
    write_embedding_csv(embedding, args.output, args.nComponents)
    write_loss(model.loss_records, args.loss_file)


if __name__ == "__main__":
    main()
