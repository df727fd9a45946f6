"""Spans recorded around calls into the engine's layers, each with the
Spark stage counters of the work it launched.

Spans are kept in memory and written once, when the run ends. A span
names the layer (``sources.ingest``), the job it belongs to, and its
parent; self time is its wall minus the part its children cover.
Stage counters come from the application status store, which Spark
fills with the UI off as well: every span runs under its own job group,
and after the span the stages of that group's jobs are summed.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("tasks", "busy_s", "busy_frac", "shuffle_write_mb",
            "shuffle_read_mb", "spill_mb", "failed_tasks")


@dataclass
class Span:
    name: str
    job: int
    start: float
    parent: int | None
    end: float = 0.0
    spark: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one Spark application."""

    def __init__(self, spark):
        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, job: int):
        parent = self._open[-1] if self._open else None
        s = Span(name, job, time.perf_counter(), parent)
        self.spans.append(s)
        idx = len(self.spans) - 1
        self._open.append(idx)
        sc = self.spark.sparkContext
        sc.setJobGroup(self._group(idx), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if self._open:
                sc.setJobGroup(self._group(self._open[-1]), "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                # counters are read once the outermost span has closed,
                # so reading them costs no span any time
                for k in range(idx, len(self.spans)):
                    done = self.spans[k]
                    done.spark = stage_counters(sc, self._group(k), done.wall)

    def _group(self, idx: int) -> str:
        s = self.spans[idx]
        return f"{s.job}:{s.name}:{idx}"

    def self_times(self) -> list[float]:
        """Each span's wall minus the union of its direct children
        (children never overlap: the client is single-threaded)."""
        own = [s.wall for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.wall
        return own

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s, own in zip(self.spans, selfs):
                fh.write(json.dumps({
                    "name": s.name, "job": s.job, "start": s.start,
                    "end": s.end, "parent": s.parent, "self_s": own,
                    **{f"spark.{k}": v for k, v in s.spark.items()},
                }) + "\n")


def stage_counters(sc, group: str, wall: float) -> dict:
    """Sum the stage metrics of every job run under ``group``."""
    jvm = sc._jvm
    ssc = sc._jsc.sc()
    # the status store is fed asynchronously by the listener bus
    ssc.listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    stage_ids = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = ssc.statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    no_tasks = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out = dict.fromkeys(COUNTERS, 0.0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
        for st in conv.asJava(attempts):
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["busy_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / 2**20
    cores = sc.defaultParallelism
    out["busy_frac"] = out["busy_s"] / (wall * cores) if wall > 0 else 0.0
    return out


def peak_rss_mb(sc) -> float:
    """Gateway JVM high-water RSS plus this driver process's."""
    import resource

    driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{sc._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (driver_kb + jvm_kb) / 1024.0
