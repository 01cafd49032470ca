"""Spans around the benchmark's calls into each layer, plus the Spark
stage counters of the jobs those calls launch.

Spans live in memory (name, start, end, parent, op id) and are written
out once, when the run ends. Each traced op runs under its own Spark
job group, so the jobs it launched, and their stages' counters, can be
read back from the status store afterwards. Nothing here reaches into
the package: spans wrap the benchmark's own calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

from py4j.protocol import Py4JJavaError

from stats import median


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    """Counters summed over every stage attempt of one op's jobs."""

    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    """Records the spans of one run's traced ops. Untraced ops never
    call it, so they pay nothing."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._op = ""

    @contextmanager
    def op(self, op_id: str):
        """One op: its own job group and a root span. Yields a
        ``StageTotals`` that is filled in when the op ends."""
        totals = StageTotals()
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op_id)
        self._op = op_id
        try:
            with self.span("op"):
                yield totals
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            _fill_totals(sc, op_id, totals)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                Span(name, t0, time.perf_counter(), parent, self._op)
            )
            self._stack.pop()

    def layer_seconds(self, op_id: str) -> dict[str, float]:
        """Seconds per span name for the direct children of an op."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op == op_id and s.parent == "op":
                out[s.name] = out.get(s.name, 0.0) + s.seconds
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def _fill_totals(sc, group: str, totals: StageTotals) -> None:
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    totals.jobs = len(job_ids)
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else ():
            try:
                d = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage the store no longer retains
                continue
            totals.tasks += d.numCompleteTasks()
            totals.executor_run_s += d.executorRunTime() / 1000.0
            totals.shuffle_read_bytes += d.shuffleReadBytes()
            totals.shuffle_write_bytes += d.shuffleWriteBytes()
            totals.spill_bytes += d.memoryBytesSpilled() + d.diskBytesSpilled()


def spark_layer(cores: int, calls: list[tuple[float, StageTotals]]) -> dict:
    """Median stage counters per op, and the cores' busy share."""
    run_s = sum(s.executor_run_s for _, s in calls)
    wall = sum(w for w, _ in calls)
    return {
        "spark.tasks": median([s.tasks for _, s in calls]),
        "spark.executor_run_s": median([s.executor_run_s for _, s in calls]),
        "spark.shuffle_read_bytes": median([s.shuffle_read_bytes for _, s in calls]),
        "spark.shuffle_write_bytes": median([s.shuffle_write_bytes for _, s in calls]),
        "spark.spill_bytes": median([s.spill_bytes for _, s in calls]),
        "spark.core_busy_ratio": run_s / (wall * cores),
    }
