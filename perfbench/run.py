"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload tsne_short --seed 1 --seconds 5 --trace 0

Run from the repository root.  With ``--trace 0`` the run sets up once
(process start, Spark session, seeded inputs, one untimed warm-up job:
``setup_s``), then times whole warm jobs for ``--seconds`` (at least
``MIN_SAMPLES``) and reports their median as ``job_s``, and the driver
process's peak RSS during the timed engine calls as ``driver_rss_mb``.
With ``--trace 1`` it alternates untraced jobs with the same work run layer
by layer in Spark job groups, and reports the per-layer counters.  Every
job's output is checked; a job that raises or fails its check counts as
failed.

The last stdout line is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The full record (every sample, the host calibration, the spans) goes to
``.bench_build/perfbench/<workload>-seed<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# job times still fall from job to job (the JVM keeps warming), so the
# median is only comparable between runs that time the same number of jobs:
# three, unless --seconds fits more
MIN_SAMPLES = 3
MIN_PAIRS = 2  # traced runs: untraced + traced job pairs
MAX_CORES = 4


def _cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def _driver_memory() -> str:
    """A quarter of physical memory, 1-16 GB (bench.py's fixed 16g does not
    fit every host)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(16, kb // (4 * 1024 * 1024)))}g"


def _prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK, and let
    the Python workers import the engine."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build_session(cores: int):
    """bench.py's session settings on local[cores]; driver memory sized to
    the host."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.defaultSizeInBytes", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# host calibration
# ---------------------------------------------------------------------------


def numpy_probe() -> float:
    """Fixed single-threaded numpy work (bench.py's host sampler)."""
    import numpy as np

    buf = np.arange(2_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(12):
        float(np.sqrt(buf * 1.0000003 + 1.5).sum())
    return time.perf_counter() - t0


def spark_probe(spark, cores: int) -> float:
    """Fixed codegen-only Spark scan + aggregate."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 4_000_000, 1, 2 * cores)
        .select(
            F.sum(F.col("id") * 3 % 7),
            F.sum(F.sqrt(F.col("id").cast("double"))),
            F.count(F.lit(1)),
        )
        .collect()
    )
    return time.perf_counter() - t0


def calibrate(spark, cores: int) -> dict:
    return {
        "numpy_s": statistics.median(numpy_probe() for _ in range(3)),
        "spark_scan_s": statistics.median(spark_probe(spark, cores) for _ in range(3)),
    }


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------


def reset_peak_rss() -> None:
    """Reset this process's RSS high-water mark (VmHWM) to its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """This process's RSS high-water mark (VmHWM) in MB."""
    with open("/proc/self/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


class Ops:
    """Jobs attempted and failed, with the first few problems seen."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.last_info: dict | None = None  # the last check's summary

    def run(self, workload, call) -> tuple[float, float, float]:
        """Run and check one job; returns (job seconds, check seconds, the
        driver's peak RSS in MB during the job, the check excluded)."""
        self.attempted += 1
        reset_peak_rss()
        t0 = time.perf_counter()
        try:
            out = call()
        except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
            return time.perf_counter() - t0, 0.0, peak_rss_mb()
        t1 = time.perf_counter()
        rss_mb = peak_rss_mb()
        problems, self.last_info = workload.check(out)
        if problems:
            self.failed += 1
            self.problems.extend(problems[:5])
        return t1 - t0, time.perf_counter() - t1, rss_mb


def _between_jobs(spark) -> None:
    """Drop what the previous job left cached and collect garbage on both
    sides, outside any timed region."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_plain(workload, seed: int, seconds: float, cores: int, ops: Ops) -> tuple[dict, dict]:
    spark = build_session(cores)
    try:
        workload.prepare(spark, seed)
        # warm-up job: pays codegen and the Python worker spawn
        _, check_s, _ = ops.run(workload, workload.job)
        setup_s = time.time() - PROCESS_START - check_s
        _between_jobs(spark)
        calib_before = calibrate(spark, cores)
        samples, rss = [], []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(samples) < MIN_SAMPLES:
            wall, _, rss_mb = ops.run(workload, workload.job)
            samples.append(wall)
            rss.append(rss_mb)
            _between_jobs(spark)
        calib_after = calibrate(spark, cores)
    finally:
        stop_spark(spark)
    metrics = {
        "job_s": {"value": statistics.median(samples), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "driver_rss_mb": {"value": max(rss), "unit": "MB"},
    }
    record = {
        "job_samples_s": samples,
        "job_peak_rss_mb": rss,
        "calibration": {"before": calib_before, "after": calib_after},
    }
    return metrics, record


def _traced_rep(spark, workload, cores: int, ops: Ops) -> dict:
    from perfbench.trace import Tracer

    tracer = Tracer(spark, cores)
    extra = {}

    def traced_job():
        out, info = workload.traced(tracer)
        extra.update(info)
        return out

    wall, _, _ = ops.run(workload, traced_job)
    return {
        "wall_s": wall,
        "pipeline_s": extra.pop("pipeline_s", None),
        "spans": [s.as_dict() for s in tracer.spans],
        **extra,
    }


def run_traced(workload, seed: int, seconds: float, cores: int, ops: Ops) -> tuple[dict, dict]:
    from perfbench.layers import layer_metrics

    spark = build_session(cores)
    try:
        workload.prepare(spark, seed)
        ops.run(workload, workload.job)  # warm-up
        _between_jobs(spark)
        calib_before = calibrate(spark, cores)
        # untraced and traced jobs in pairs, alternating which goes first, so
        # the JVM's continued warm-up favours neither side
        plain, reps = [], []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(reps) < MIN_PAIRS:
            for traced in (False, True) if len(reps) % 2 == 0 else (True, False):
                if traced:
                    reps.append(_traced_rep(spark, workload, cores, ops))
                else:
                    plain.append(ops.run(workload, workload.job)[0])
                _between_jobs(spark)
        calib_after = calibrate(spark, cores)
    finally:
        stop_spark(spark)
    metrics, spread = layer_metrics(reps, plain)
    record = {
        "untraced_job_samples_s": plain,
        "traced_reps": reps,
        "layer_spread": spread,
        "calibration": {"before": calib_before, "after": calib_after},
    }
    return metrics, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tsne_flink_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    _prepare_environment()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    cores = _cores()
    ops = Ops()
    runner = run_traced if args.trace else run_plain
    metrics, record = runner(workload, args.seed, args.seconds, cores, ops)

    record.update({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "config": workload.describe(),
        "attempted": ops.attempted,
        "failed": ops.failed,
        "problems": ops.problems[:20],
        "check_info": ops.last_info,
        "metrics": metrics,
    })
    path = os.path.join(
        WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for p in ops.problems[:5]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload,
        "calibration": record["calibration"],
        "check_info": record["check_info"],
        "record": os.path.relpath(path, ROOT),
    }))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
