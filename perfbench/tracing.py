"""Per-layer counters read from outside the library.

Each traced call runs under its own Spark job group; afterwards the
group's jobs are looked up in the status tracker and their stages in
the JVM status store (the same store ``plans.metrics.executor_totals``
reads), giving tasks, executor run time and bytes per layer. Process
memory comes from ``/proc``.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class StageStat:
    stage_id: int
    tasks: int
    run_ms: int  # executor run time summed over tasks
    input_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    max_task_ms: int
    sum_task_ms: int


@dataclass
class Layer:
    name: str
    wall_s: float = 0.0
    jobs: int = 0
    stages: list[StageStat] = field(default_factory=list)

    def total(self, attr: str) -> int:
        return sum(getattr(s, attr) for s in self.stages)

    @property
    def tasks(self) -> int:
        return self.total("tasks")

    @property
    def core_s(self) -> float:
        return self.total("run_ms") / 1000.0


_group_ids = itertools.count()


class Tracer:
    """Times calls into library layers and attributes Spark work to them."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.layers: dict[str, list[Layer]] = {}

    @contextmanager
    def layer(self, name: str):
        rec = Layer(name)
        group = f"perfbench-{name}-{next(_group_ids)}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall_s = time.perf_counter() - t0
            self.sc.setJobGroup("perfbench-untraced", "untraced")
            self._collect(group, rec)
            self.layers.setdefault(name, []).append(rec)

    def _collect(self, group: str, rec: Layer) -> None:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        rec.jobs = len(job_ids)
        stage_ids = sorted({
            s for j in job_ids
            for s in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else [])
        })
        store = self.sc._jsc.sc().statusStore()
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage evicted from the store
                continue
            if s.numTasks() == 0 or s.status().toString() == "SKIPPED":
                continue
            tl = store.taskList(sid, s.attemptId(), 100_000)
            durs = [
                tl.apply(i).duration().get()
                for i in range(tl.size())
                if tl.apply(i).duration().isDefined()
            ]
            rec.stages.append(StageStat(
                stage_id=sid,
                tasks=s.numTasks(),
                run_ms=s.executorRunTime(),
                input_bytes=s.inputBytes(),
                output_bytes=s.outputBytes(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                max_task_ms=max(durs, default=0),
                sum_task_ms=sum(durs),
            ))

    def merged(self, name: str) -> Layer:
        """All calls of one layer as one record (walls and stages add)."""
        recs = self.layers.get(name, [])
        out = Layer(name)
        for r in recs:
            out.wall_s += r.wall_s
            out.jobs += r.jobs
            out.stages.extend(r.stages)
        return out

    def calls(self, name: str) -> int:
        return len(self.layers.get(name, []))


def parquet_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


def peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    path = f"/proc/{pid or os.getpid()}/status"
    with open(path) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
