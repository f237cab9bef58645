"""Instruments owned by the benchmark: spans, Spark job counts, worker RSS
and the environment record.

Spans are kept in memory (a list append per span) and written out once
at the end of a traced run. Job and stage counts come from tagging an
op's Spark jobs with a job group and reading ``statusTracker`` after
it. Nothing here adds a Spark job.
"""

from __future__ import annotations

import functools
import json
import os
import platform
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

T_START = time.perf_counter()  # the benchmark process's start


def log(what: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench] {time.perf_counter() - T_START:7.2f}s {what}", file=sys.stderr, flush=True)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    pass_no: int


class Tracer:
    """Span recorder. ``enabled=False`` makes ``span`` a bare yield, so an
    untraced run pays for no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_no = 0  # set by the workload at the start of each pass
        self._stack = threading.local()
        self._lock = threading.Lock()  # pipeline threads record spans too

    @contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        parent = stack[-1] if stack else None
        if not op and parent is not None:
            op = self.spans[parent].op  # a child span belongs to its op
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op, self.pass_no))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, fn, name: str):
        """``fn`` with every call inside a ``name`` span."""

        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        return traced

    def per_pass(self, name: str, passes: list[int]) -> list[float]:
        """Summed duration of ``name`` spans in each of ``passes``; a pass
        without such a span sums to 0."""
        sums = dict.fromkeys(passes, 0.0)
        for s in self.spans:
            if s.name == name and s.pass_no in sums:
                sums[s.pass_no] += s.end - s.start
        return list(sums.values())

    def calls_per_pass(self, name: str, passes: list[int]) -> list[int]:
        counts = dict.fromkeys(passes, 0)
        for s in self.spans:
            if s.name == name and s.pass_no in counts:
                counts[s.pass_no] += 1
        return list(counts.values())

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


def patch_everywhere(orig, new):
    """Rebind every module-level name bound to ``orig`` (the defining
    module's and each ``from ... import`` copy) to ``new``. Returns the
    undo."""
    bound = [
        (m, k)
        for m in list(sys.modules.values())
        for k, v in list(getattr(m, "__dict__", {}).items())
        if v is orig
    ]
    for m, k in bound:
        setattr(m, k, new)

    def undo() -> None:
        for m, k in bound:
            setattr(m, k, orig)

    return undo


def job_stage_counts(sc, group: str) -> tuple[int, int]:
    """Spark jobs and stages started under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        stages += len(info.stageIds) if info is not None else 0
    return len(jobs), stages


class WorkerRss:
    """Samples the peak resident set (``VmHWM``) of Spark's Python worker
    processes, found under this process in ``/proc``, every ``period``
    seconds. ``peak_mb`` is the largest single-worker peak seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        root = os.getpid()
        parent: dict[int, int] = {}
        workers: list[int] = []
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                workers.append(int(d))
        for pid in workers:
            p, hops = pid, 0
            while p not in (root, 0, 1) and hops < 16:
                p, hops = parent.get(p, 0), hops + 1
            if p != root:
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                            break
            except OSError:
                continue


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: high steal marks a run slowed by neighbours."""
    delta = [b - a for a, b in zip(start, end)]
    return 100.0 * delta[7] / max(1, sum(delta[:8]))


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    try:
        err = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30).stderr
        java = next(line for line in err.splitlines() if "version" in line)
    except (OSError, StopIteration, subprocess.TimeoutExpired):
        java = "unknown"
    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "java": java,
    }
