"""Spans, Spark job tags and per-layer metrics for the traced run.

A span is (name, start, end, parent, request id), held in memory and
written once when the run ends. Spans opened with a ``layer`` also tag
every Spark job they start with ``setJobGroup(<layer>|<span id>)``, so
Spark's own records can be attributed afterwards:

- ``statusTracker`` gives the job ids of a group while the session is
  up (``jobs``);
- the event log (turned on by the benchmark's session config in the
  traced run only) gives per-task metrics, which ``EventLog`` sums per
  job group: tasks, shuffle bytes, spill, executor run / CPU / GC time
  and the time the Python workers ran.

With tracing off, ``Tracer.span`` records nothing and tags no jobs.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# SQL timing metric (milliseconds) of the Python-evaluation operators.
PYTHON_METRIC = "time to run Python workers"
SPARK_FIELDS = (
    "jobs", "tasks", "shuffle_bytes", "spill_bytes",
    "executor_run_s", "executor_cpu_s", "gc_s", "python_eval_s",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    jobs: int  # Spark jobs started under the span's group (0 if untagged)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0
        self.sc = None
        self._group = ""  # job group of the innermost open layer span

    def attach(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def span(self, name: str, layer: str | None = None, request: int | None = None):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        group = f"{layer}|{sid}" if layer and self.sc is not None else None
        outer = self._group
        if group:
            self._group = group
            self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            jobs = []
            if group:
                jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
                self._group = outer
                self.sc.setJobGroup(outer, "")
            self.spans.append(Span(sid, name, start, end, parent, request, len(jobs)))

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time of child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child[s.id]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def jobs(self, name: str) -> list[int]:
        return [s.jobs for s in self.spans if s.name == name]

    def top_level_s(self, since: float) -> float:
        """Seconds covered by top-level spans that started at ``since`` or later."""
        return sum(
            s.end - s.start for s in self.spans
            if s.parent is None and s.start >= since
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class EventLog:
    """Per-job-group sums of Spark task metrics from the event log(s)
    under ``directory`` (one file per SparkContext)."""

    def __init__(self, directory: str):
        self.by_group: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(SPARK_FIELDS, 0.0)
        )
        for path in sorted(glob.glob(os.path.join(directory, "**"), recursive=True)):
            if os.path.isfile(path) and not os.path.basename(path).startswith("appstatus"):
                self._read(path)

    def _read(self, path: str) -> None:
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    self.by_group[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = self.by_group[group]
                    g["tasks"] += 1
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    g["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    g["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PYTHON_METRIC:
                            g["python_eval_s"] += float(acc.get("Update") or 0) / 1e3

    def by_group_count(self, layer: str) -> int:
        """How many job groups (spans) of ``layer`` ran jobs."""
        return sum(1 for g in self.by_group if g.split("|")[0] == layer)

    def layer(self, layer: str) -> dict[str, float]:
        """Sums over every job group whose layer part is ``layer``."""
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        for group, vals in self.by_group.items():
            if group.split("|")[0] == layer:
                for k, v in vals.items():
                    out[k] += v
        return out


def peak_rss_mb(pid) -> float:
    """VmHWM of a process (``"self"`` for this one), in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")
