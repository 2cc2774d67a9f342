"""Layer timing from outside the program: spans, Spark job counts, RSS.

The benchmark never patches the program. It wraps its own calls into
the program's public layers (``session``, ``queries``, ``engine``,
``sources``) and the Spark actions it issues itself, in a
:meth:`Recorder.span`. With tracing off a span costs two clock reads
and adds its duration to a per-layer total. With tracing on it also

* keeps ``(name, start, end, parent, op_id)`` in memory, written out by
  :meth:`Recorder.dump` when the run ends;
* gives the call its own Spark job group, then reads the jobs, stages
  and tasks that group launched — with each stage's executor time,
  shuffle bytes and spill — from the driver's status store.

A layer's self time is its spans' duration minus the part of it that
child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


#: stage-level counters summed per span, from the status store's StageData
_STAGE_FIELDS = {
    "executor_ms": "executorRunTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


class Recorder:
    """Per-run layer accounting; see the module docstring."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.spark = None
        self.totals: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._group = 0

    def attach(self, spark) -> None:
        """Enable job attribution once a SparkSession exists."""
        self.spark = spark

    @contextmanager
    def span(self, name: str, op_id: int | None = None, jobs: str | None = None):
        """Time one layer call. ``jobs`` names the counter prefix under
        which the Spark jobs this call launches are counted (traced
        runs only)."""
        group = None
        if self.trace and jobs and self.spark is not None:
            self._group += 1
            group = f"perfbench-{self._group}"
            self.spark.sparkContext.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        if self.trace:
            self.spans.append(Span(name, 0.0, 0.0, parent, op_id))
            self._stack.append(len(self.spans) - 1)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.totals[name] += end - start
            if self.trace:
                idx = self._stack.pop()
                self.spans[idx].start, self.spans[idx].end = start, end
            if group is not None:
                self.spark.sparkContext._jsc.clearJobGroup()
                self._count_jobs(group, jobs)

    def _count_jobs(self, group: str, prefix: str) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        self.counts[f"{prefix}.jobs"] += len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    stage = store.lastStageAttempt(sid)
                except Exception:  # never ran (skipped) or evicted
                    continue
                if str(stage.status()) != "COMPLETE":
                    continue
                self.counts[f"{prefix}.stages"] += 1
                self.counts[f"{prefix}.tasks"] += stage.numCompleteTasks()
                for key, attr in _STAGE_FIELDS.items():
                    self.counts[f"{prefix}.{key}"] += getattr(stage, attr)()

    def sample_storage(self) -> None:
        """Track the peak number and size of persisted RDDs."""
        if not self.trace or self.spark is None:
            return
        jsc = self.spark.sparkContext._jsc
        pinned = jsc.getPersistentRDDs().size()
        cached = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
        self.counts["storage.pinned_rdds_max"] = max(
            self.counts["storage.pinned_rdds_max"], pinned)
        self.counts["storage.cached_bytes_max"] = max(
            self.counts["storage.cached_bytes_max"], cached)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus time covered by children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (traced runs only)."""
        if not self.spans:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def plan_seconds(df) -> float:
    """Force Catalyst analysis, optimization and physical planning of
    ``df`` and return the time its QueryPlanningTracker recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.values().iterator()
    total_ms = 0
    while it.hasNext():
        p = it.next()
        total_ms += p.endTimeMs() - p.startTimeMs()
    return total_ms / 1000.0


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:  # exited meanwhile
        pass
    return 0


def process_tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            with open(f"{proc}/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests since
    boot (the ``steal`` column of ``/proc/stat``), 0 where unknown."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``beyond`` samples above it:
    ``(value, percentile, n)``, or ``None`` when ``n <= beyond``."""
    n = len(values)
    if n <= beyond:
        return None
    s = sorted(values)
    k = n - beyond  # 1-based rank; exactly `beyond` samples rank above it
    return s[k - 1], 100.0 * k / n, n
