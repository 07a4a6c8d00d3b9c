"""Spans around calls into the package, and Spark stage metrics of the
jobs those calls ran.

Spans are recorded by wrapping package functions from outside (see
``Tracer.wrap``); the package itself is never edited. Spans are held in
memory and written with the run artifact when the run ends."""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of the union of ``parts`` clipped to ``interval``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered((s.start, s.end), kids.get(s.id, []))
        for s in spans
    }


class Tracer:
    """Records spans; the parent of a span is the innermost open span
    of the same thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.op))

    def wrap(self, name: str, fn, *namespaces) -> None:
        """Replace ``fn`` by a span-recording wrapper in every module in
        ``namespaces`` that binds it under its own name (the defining
        module and each module that imported it by name)."""
        attr = fn.__name__

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        for ns in namespaces:
            if getattr(ns, attr) is not fn:
                raise RuntimeError(f"{ns.__name__}.{attr} is not {fn!r}")
            self._restore.append((ns, attr, fn))
            setattr(ns, attr, traced)

    def unwrap_all(self) -> None:
        for ns, attr, fn in reversed(self._restore):
            setattr(ns, attr, fn)
        self._restore.clear()

    def by_name(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total wall and total self time."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            agg = out.setdefault(s.name, {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["wall_s"] += s.end - s.start
            agg["self_s"] += selfs[s.id]
        return out

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# --- Spark stage metrics --------------------------------------------------

STAGE_FIELDS = (
    "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "input_mb",
)


class StageReader:
    """Reads per-job stage metrics from the driver's status store."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self._next_job = 0

    def last_job_id(self) -> int:
        """Highest job id the driver has seen (ids are dense from 0)."""
        while self.tracker.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        return self._next_job - 1

    @contextlib.contextmanager
    def job_group(self, group: str):
        """Jobs started from this thread inside the block carry ``group``."""
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stages(self, job_ids) -> list[dict]:
        """One record per distinct stage of ``job_ids``."""
        seen, out = set(), []
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # never attempted: no stage data
                    out.append({"stage": sid, "skipped": True})
                    continue
                out.append({
                    "stage": sid,
                    "skipped": sd.status().toString() == "SKIPPED",
                    "pool": sd.schedulingPool(),
                    "tasks": sd.numTasks(),
                    "executor_run_s": sd.executorRunTime() / 1e3,
                    "executor_cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
                    "shuffle_read_mb": sd.shuffleReadBytes() / 1e6,
                    "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6,
                    "input_mb": sd.inputBytes() / 1e6,
                })
        return out

    @staticmethod
    def total(stages: list[dict]) -> dict[str, float]:
        run = [s for s in stages if not s["skipped"]]
        out = {k: sum(s[k] for s in run) for k in STAGE_FIELDS}
        out["stages"] = len(run)
        out["stages_skipped"] = len(stages) - len(run)
        return out

    def by_pool(self, stages: list[dict]) -> dict[str, dict[str, float]]:
        pools: dict[str, list[dict]] = {}
        for s in stages:
            if not s["skipped"]:
                pools.setdefault(s["pool"], []).append(s)
        return {p: self.total(ss) for p, ss in pools.items()}
