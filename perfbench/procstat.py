"""CPU time and resident memory of a process tree, read from /proc.

The benchmark's process starts the JVM, and the JVM forks the Python
workers, so the tree rooted at the benchmark's own pid holds every
process that does the program's work."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name is in parentheses and may itself hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cpu_s(fields: list[str]) -> float:
    # utime, stime, cutime, cstime: a reaped child's time moves into its
    # parent's c*time, so the tree total never loses an exited worker
    return sum(int(x) for x in fields[11:15]) / _TICK


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds used so far by the tree, split into ``total`` and
    the share of processes whose command is ``python*`` below the root
    (the Spark Python workers)."""
    total = py = 0.0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        s = _cpu_s(fields)
        total += s
        if pid != root and _comm(pid).startswith("python"):
            py += s
    return {"total": total, "python_workers": py}


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine's vCPUs
    since boot (the ``steal`` field of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class RssSampler:
    """Samples the tree's RSS on a background thread; ``peak`` is the
    largest sum seen since the last ``reset``."""

    # each sample walks /proc while holding the GIL, so sample sparsely
    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> int:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self.peak = max(self.peak, rss)
        return rss

    def reset(self) -> None:
        with self._lock:
            self.peak = 0
        self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
