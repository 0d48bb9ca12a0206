"""Spans, Spark job accounting, memory sampling and the host fingerprint.

Spans are recorded from the benchmark's own code around calls into one
module of the package; nothing inside the package is instrumented. Each
span runs its Spark jobs under its own job group, so the status tracker
can attribute jobs, stages and tasks to it afterwards. Spans stay in
memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import platform
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    group: str
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    self_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op, so
    the untraced path runs exactly the calls the traced path wraps."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._resolved = 0
        self.sc = None

    @property
    def _stack(self) -> list[int]:
        """Open spans of the calling thread; a span opened on a worker
        thread has no parent."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _live_sc(self):
        return self.sc if self.sc is not None and self.sc._jsc is not None else None

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        with self._lock:
            idx = len(self.spans)
            sp = Span(name, time.perf_counter(), 0.0, parent, request, f"perfbench-{os.getpid()}-{idx}")
            self.spans.append(sp)
        self._stack.append(idx)
        if self._live_sc():
            self.sc.setJobGroup(sp.group, name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._live_sc():
                if self._stack:
                    self.sc.setJobGroup(self.spans[self._stack[-1]].group, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def materialize(self, *dfs):
        """Traced runs cache and count each lazy frame at the span boundary,
        so the span times execution rather than plan construction."""
        if not self.enabled:
            return dfs if len(dfs) > 1 else dfs[0]
        out = tuple(df.cache() for df in dfs)
        for df in out:
            df.count()
        return out if len(out) > 1 else out[0]

    def resolve(self) -> None:
        """Attach job/stage/task counts and self time to the spans recorded
        since the last call. Call it before the status tracker's retention
        limit can evict the jobs (once per pass is enough)."""
        if not self.enabled or not self._live_sc():
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        new = self.spans[self._resolved:]
        for sp in new:
            for job in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                sp.jobs += 1
                for st in info.stageIds:
                    sp.stages += 1
                    stage = tracker.getStageInfo(st)
                    sp.tasks += stage.numTasks if stage is not None else 0
            sp.self_s = sp.dur
        base = self._resolved
        for i, sp in enumerate(new, start=base):
            if sp.parent is not None and sp.parent >= base:
                self.spans[sp.parent].self_s -= sp.dur
        self._resolved = len(self.spans)

    def subtree(self, idx: int) -> list[Span]:
        """Span ``idx`` and all its descendants."""
        members = {idx}
        out = [self.spans[idx]]
        for i in range(idx + 1, len(self.spans)):
            if self.spans[i].parent in members:
                members.add(i)
                out.append(self.spans[i])
        return out

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            fh.write(json.dumps({"meta": meta}) + "\n")
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


# --- memory -------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Polls the summed RSS of this process's descendants — the driver JVM
    and the Python workers it forks — and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# --- host ---------------------------------------------------------------------
def host_fingerprint() -> dict:
    model = "unknown"
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    calib_ms = (time.perf_counter() - t0) * 1000
    return {
        "cpu_model": model,
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "calibration_ms": calib_ms,
    }
