"""Benchmark-side counters read from outside the engine.

- Spark work per operation: each operation runs under its own job group;
  ``statusTracker`` maps the group to jobs and stages, and the status store
  (``sc._jsc.sc().statusStore()``, through py4j) gives each stage's tasks,
  executor CPU, shuffle bytes, spill and input records.
- Catalyst phase times from ``queryExecution().tracker()``.
- Bytes written as directory-size deltas.
- A stamp of the machine's state (1-minute loadavg, CPU steal from
  ``/proc/stat``, cores used), so a run taken on a busy machine can be
  recognised afterwards.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class SparkWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0

    def add(self, other: SparkWork) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class SparkCounters:
    """Job-group accounting for one SparkContext (one client thread)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    @contextmanager
    def op(self, label: str):
        """Run the body under a fresh job group; the yielded SparkWork is
        filled in when the body returns."""
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label, False)
        work = SparkWork()
        try:
            yield work
        finally:
            self.sc._jsc.clearJobGroup()
            work.add(self.collect(group))

    def collect(self, group: str) -> SparkWork:
        # the status store is fed by an asynchronous listener
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = SparkWork(jobs=len(jobs))
        store = self._jsc.statusStore()
        for s in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 — evicted or never submitted
                continue
            done = st.numCompleteTasks()
            if done == 0:  # skipped stage: its output was reused
                continue
            out.stages += 1
            out.tasks += done
            out.cpu_s += st.executorCpuTime() / 1e9
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.input_records += st.inputRecords()
        return out


def catalyst_s(df) -> float:
    """Seconds Catalyst spent in analysis, optimization and planning of
    ``df``'s own query execution (read after the action ran)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    it = phases.iterator()
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # removed while walking
                pass
    return total


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return 0, 0
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


class BoxStamp:
    """1-minute loadavg and CPU steal at start and end of a run."""

    def __init__(self, cores: int) -> None:
        self.cores = cores
        self.load_start = os.getloadavg()[0]
        self._steal0, self._total0 = _cpu_times()
        self.load_end = self.load_start
        self.steal_pct = 0.0

    def finish(self) -> dict:
        self.load_end = os.getloadavg()[0]
        steal1, total1 = _cpu_times()
        dt = total1 - self._total0
        self.steal_pct = 100.0 * (steal1 - self._steal0) / dt if dt > 0 else 0.0
        return {"loadavg_start": round(self.load_start, 2),
                "loadavg_end": round(self.load_end, 2),
                "steal_pct": round(self.steal_pct, 3),
                "cores": self.cores}


def percentile(sorted_xs: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    if not sorted_xs:
        return 0.0
    k = max(0, min(len(sorted_xs) - 1,
                   int(-(-p * len(sorted_xs) // 100)) - 1))
    return sorted_xs[k]
