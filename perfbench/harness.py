"""Measurement plumbing shared by the workloads.

- ``Recorder`` wraps every operation the benchmark makes. It always
  counts attempts and failures; with tracing on it also records a span
  (name, start, end, parent, request id) and tags the call's Spark jobs
  with a job group, then reads jobs, stages and tasks back from the
  status tracker.
- ``ProcTree`` reads CPU time and peak RSS of this process and every
  descendant (the Spark JVM) from ``/proc``.
- ``tail`` picks the highest percentile that has at least ten samples
  beyond it.
"""

from __future__ import annotations

import math
import os
import sys
import threading
import time
import traceback
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


class OperationFailed(RuntimeError):
    """An operation raised, timed out, or left a stream exception."""


@dataclass
class CallStats:
    calls: int = 0
    busy_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed: int = 0
    failed_tasks: int = 0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request_id: str | None


class Recorder:
    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.calls: dict[str, CallStats] = defaultdict(CallStats)
        self.spans: list[Span] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        #: seconds spent in the benchmark's own tracing bookkeeping
        self.overhead_s = 0.0
        self.request_id: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current_span(self) -> int | None:
        """Index of the calling thread's innermost open span."""
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def unit(self, request_id: str):
        """Root span of one unit of work; children carry its id."""
        self.request_id = request_id
        with self._span(f"unit:{request_id}"):
            yield
        self.request_id = None

    @contextmanager
    def _span(self, name: str, parent: int | None = None):
        """``parent`` applies when the calling thread has no open span
        (a worker thread the package started inside an operation)."""
        if not self.trace:
            yield
            return
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(name, time.perf_counter(), 0.0, stack[-1] if stack else parent, self.request_id)
            )
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    # -- operations -------------------------------------------------------

    @contextmanager
    def op(self, name: str, extra_groups=(), parent: int | None = None):
        """Wrap one call into a layer. Failures are counted and re-raised
        as ``OperationFailed``. ``extra_groups`` is a callable returning
        job-group ids whose jobs also belong to this call (streaming
        queries tag their jobs with their run id)."""
        with self._lock:
            self.attempted += 1
        stats = self.calls[name]
        group = prev_group = None
        if self.trace:
            t = time.perf_counter()
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            group = f"perfbench-{uuid.uuid4().hex[:12]}"
            self.sc.setJobGroup(group, name)
            self.overhead_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            with self._span(name, parent):
                yield
        except BaseException as e:
            with self._lock:
                self.failed += 1
                stats.failed += 1
                first = (str(e).splitlines() or [""])[0]
                self.failures.append(f"{name}: {type(e).__name__}: {first}")
            traceback.print_exc(file=sys.stderr)
            if isinstance(e, (KeyboardInterrupt, SystemExit)):
                raise
            raise OperationFailed(name) from e
        finally:
            stats.calls += 1
            stats.busy_s += time.perf_counter() - t0
            if self.trace:
                t = time.perf_counter()
                groups = [group] + (list(extra_groups()) if extra_groups else [])
                jobs, tasks, ftasks = self._job_counts(groups)
                stats.jobs += jobs
                stats.tasks += tasks
                stats.failed_tasks += ftasks
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                self.overhead_s += time.perf_counter() - t

    def _job_counts(self, groups) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numTasks
                        failed += st.numFailedTasks
        return jobs, tasks, failed

    # -- reporting --------------------------------------------------------

    def call_metrics(self, names) -> dict[str, float]:
        out = {}
        for n in names:
            s = self.calls.get(n, CallStats())
            out[f"{n}.calls"] = s.calls
            out[f"{n}.busy_s"] = s.busy_s
            out[f"{n}.jobs"] = s.jobs
            out[f"{n}.tasks"] = s.tasks
            out[f"{n}.failed"] = s.failed
        return out

    def totals(self) -> tuple[int, int, int]:
        jobs = sum(s.jobs for s in self.calls.values())
        tasks = sum(s.tasks for s in self.calls.values())
        failed = sum(s.failed_tasks for s in self.calls.values())
        return jobs, tasks, failed

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (children may overlap, so their union is used)."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(i, [])):
                lo, hi = max(lo, s.start), min(hi, s.end)
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            name = "unit" if s.name.startswith("unit:") else s.name
            out[name] += (s.end - s.start) - covered
        return dict(out)

    def dump_spans(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "request_id": s.request_id,
                        }
                        for s in self.spans
                    ],
                    "self_s": self.self_times(),
                },
                f,
            )


class ProcTree:
    """CPU seconds and peak RSS of this process plus its descendants."""

    def __init__(self):
        self.root = os.getpid()
        self.tick = os.sysconf("SC_CLK_TCK")

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children[ppid].append(int(d))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def cpu_s(self) -> float:
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            total += int(fields[11]) + int(fields[12])  # utime + stime
        return total / self.tick

    def peak_rss_mb(self) -> float:
        """Sum over the tree of each process's RSS high-water mark."""
        kb = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                continue
        return kb / 1024.0


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def quantile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of already sorted values."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def p50(values: list[float]) -> float:
    return quantile(sorted(values), 50.0)


def tail(values: list[float]) -> tuple[float, str]:
    """(value, label) at the highest ladder percentile with at least ten
    samples above its rank; the maximum when there are fewer than 20."""
    vals = sorted(values)
    n = len(vals)
    for p in TAIL_LADDER:
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= 10:
            return vals[k - 1], f"p{p:g}"
    return vals[-1], "max"


class Workload:
    """Defaults for the workload classes (see ``run.py`` for the loop)."""

    #: what one unit is, for the printed summary
    unit_name = "unit"
    #: what one step is; each step gives one latency sample
    step_name = "step"
    #: untimed steps after set-up
    warmup_steps = 1
    #: timed steps an untraced run makes even when time is up
    min_steps = 1
    #: timed steps of a traced run (fixed, so counts repeat)
    trace_steps = 3
    #: the timed loop stops only at a multiple of this many steps
    step_multiple = 1

    def planned_steps(self, seconds: float, trace: bool) -> int:
        """Steps to generate inputs for: warm-up plus timed steps. Every
        step measured so far took over a second, so inputs for one step
        per second outlast the timed loop."""
        timed = self.trace_steps if trace else max(self.min_steps, math.ceil(seconds))
        timed = -(-timed // self.step_multiple) * self.step_multiple
        return self.warmup_steps + timed


def storage_totals(root: str) -> dict[str, int]:
    """Commits (manifests), data files and bytes of every snapshot table
    under ``root``, plus the size of each table's newest manifest."""
    out = {"commits": 0, "files": 0, "bytes": 0, "manifest_bytes": 0}
    for dirpath, _dirs, names in os.walk(root):
        if os.path.basename(dirpath) == "meta":
            manifests = [n for n in names if n.startswith("v") and n.endswith(".json")]
            out["commits"] += len(manifests)
            if manifests:
                newest = max(manifests, key=lambda n: int(n[1:-5]))
                out["manifest_bytes"] += os.path.getsize(os.path.join(dirpath, newest))
        elif f"{os.sep}data{os.sep}" in dirpath[len(root) :] + os.sep:
            for n in names:
                if n.endswith(".parquet"):
                    out["files"] += 1
                    out["bytes"] += os.path.getsize(os.path.join(dirpath, n))
    return out
