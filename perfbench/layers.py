"""Per-layer metrics from the spans of traced runs.

Every metric is a median over traced repetitions (and, for the loop, over
iterations); its min and max go to the sidecar, because job counts under AQE
vary by one or two between identical repetitions.  A layer that does not run
on a workload reads 0.
"""

from __future__ import annotations

import statistics

# span name -> the span fields reported for it
SIMPLE = {
    "knn": ("wall_s", "jobs", "tasks", "busy", "shuffle_mb", "gc_s"),
    "affinities": ("wall_s", "jobs", "busy"),
    "joint": ("wall_s", "jobs", "shuffle_mb"),
    "init": ("wall_s",),
    "readout": ("wall_s",),
    "ngram_jaccard": ("wall_s", "jobs", "busy", "shuffle_mb", "spill_mb", "gc_s"),
    "containment": ("wall_s", "jobs", "busy", "shuffle_mb", "spill_mb", "gc_s"),
    "minhash": ("wall_s", "jobs", "busy", "shuffle_mb", "spill_mb", "gc_s"),
}
ITER = ("wall_s", "jobs", "stages", "tasks", "busy", "shuffle_mb", "gc_s")
ITER_LOSS = ("wall_s", "jobs")
KERNELS = ("bh.quadtree_build_s", "bh.quadtree_eval_s",
           "bh.ndtree_build_s", "bh.ndtree_eval_s")

UNITS = {
    "wall_s": "s", "gc_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "busy": "ratio", "shuffle_mb": "MB", "spill_mb": "MB",
}


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    names = [(f"{layer}.{f}", UNITS[f]) for layer, fs in SIMPLE.items() for f in fs]
    names += [(f"iter.{f}", UNITS[f]) for f in ITER]
    names += [(f"iter_loss.{f}", UNITS[f]) for f in ITER_LOSS]
    names += [("loop.wall_s", "s")]
    names += [(k, "s") for k in KERNELS]
    names += [("trace.overhead_s", "s")]
    return names


def layer_metrics(reps: list[dict], untraced_s: list[float]) -> tuple[dict, dict]:
    """(metrics for stdout, {name: [min, max]} for the sidecar).

    ``reps[i]`` and ``untraced_s[i]`` are one pair of traced and untraced
    jobs; ``trace.overhead_s`` is the median of their differences."""
    samples: dict[str, list[float]] = {name: [] for name, _ in metric_names()}
    for rep in reps:
        spans = rep["spans"]
        for sp in spans:
            if sp["name"] in SIMPLE:
                for f in SIMPLE[sp["name"]]:
                    samples[f"{sp['name']}.{f}"].append(sp[f])
            elif sp["name"] == "iter":
                for f in ITER:
                    samples[f"iter.{f}"].append(sp[f])
            elif sp["name"] == "iter_loss":
                for f in ITER_LOSS:
                    samples[f"iter_loss.{f}"].append(sp[f])
        loop = [sp["wall_s"] for sp in spans
                if sp["name"] in ("iter", "iter_loss") and not sp.get("extra")]
        if loop:
            samples["loop.wall_s"].append(sum(loop))
        for k in KERNELS:
            if k in rep:
                samples[k].append(rep[k])
    samples["trace.overhead_s"] = [
        rep["pipeline_s"] - plain
        for rep, plain in zip(reps, untraced_s)
        if rep["pipeline_s"] is not None
    ]

    metrics, spread = {}, {}
    for name, unit in metric_names():
        xs = samples[name]
        metrics[name] = {
            "value": statistics.median(xs) if xs else 0,
            "unit": unit,
        }
        spread[name] = [min(xs), max(xs)] if xs else None
    return metrics, spread
