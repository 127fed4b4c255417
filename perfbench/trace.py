"""Per-layer spans read from Spark's own status store.

Each span runs its Spark work in a job group of its own.  On exit the span
lists the group's jobs (``statusTracker().getJobIdsForGroup``) and sums the
counters of every stage attempt that ran (``statusStore().lastStageAttempt``):
executor run time, JVM GC time, shuffle read + write bytes and spill bytes.
Listing jobs and stages runs no Spark job.

``busy`` is executor run time / (wall x cores).  Executor CPU time is not
used: it leaves out the Python workers' CPU, which is most of the work in
the ``mapInPandas`` kernels.

Spans are read as soon as they end, because the status store keeps only the
last ``spark.ui.retainedStages`` (1000) stages.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    busy: float = 0.0
    attrs: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "wall_s": self.wall_s,
            "jobs": self.jobs,
            "stages": self.stages,
            "tasks": self.tasks,
            "run_s": self.run_s,
            "gc_s": self.gc_s,
            "shuffle_mb": self.shuffle_mb,
            "spill_mb": self.spill_mb,
            "busy": self.busy,
            **self.attrs,
        }


class Tracer:
    """Collects spans in memory; the caller writes them out at the end."""

    def __init__(self, spark, cores: int):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._cores = cores
        # job group ids must be unique per process: the status tracker keeps
        # every group's jobs, so a reused id would count earlier jobs again
        self._prefix = f"perfbench-{uuid.uuid4().hex[:12]}"
        self._seq = 0
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        self._seq += 1
        group = f"{self._prefix}-{self._seq}-{name}"
        self._sc.setJobGroup(group, name)
        sp = Span(name, attrs=dict(attrs))
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            self._sc._jsc.clearJobGroup()
            self._read_counters(group, sp)
            self.spans.append(sp)

    def _read_counters(self, group: str, sp: Span) -> None:
        tracker = self._sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        sp.jobs = len(job_ids)
        run_ms = gc_ms = shuffle_b = spill_b = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage the store never saw run
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                sp.stages += 1
                sp.tasks += int(sd.numCompleteTasks())
                run_ms += int(sd.executorRunTime())
                gc_ms += int(sd.jvmGcTime())
                shuffle_b += int(sd.shuffleReadBytes()) + int(sd.shuffleWriteBytes())
                spill_b += int(sd.diskBytesSpilled()) + int(sd.memoryBytesSpilled())
        sp.run_s = run_ms / 1000.0
        sp.gc_s = gc_ms / 1000.0
        sp.shuffle_mb = shuffle_b / MB
        sp.spill_mb = spill_b / MB
        if sp.wall_s > 0:
            sp.busy = sp.run_s / (sp.wall_s * self._cores)
