"""Host facts recorded with every result, and the memory sampler."""

from __future__ import annotations

import os
import subprocess
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_jiffies() -> list[int]:
    """The host's CPU time counters: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit(root: str) -> str:
    """HEAD of ``root``, or ``unknown`` outside a git work tree."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10, check=False)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * PAGE
    except OSError:
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


def tree_rss_bytes(pid: int) -> tuple[int, int]:
    """Resident bytes of ``pid``, and of its Python descendants.

    Other descendants are left out: a child the JVM forks to run a
    command reports the JVM's own pages until it execs, which would
    count the JVM twice.
    """
    kids = _children()
    total, todo = 0, list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        if _is_python(p):
            total += _rss(p)
        todo.extend(kids.get(p, []))
    return _rss(pid), total


class RssSampler:
    """Samples the resident memory of a process tree (the Spark driver
    JVM and the Python workers it forks) on a background thread."""

    def __init__(self, pid: int, interval_s: float = 0.1) -> None:
        self.pid = pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_root_bytes = 0
        self.peak_children_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            root, children = tree_rss_bytes(self.pid)
            self.peak_bytes = max(self.peak_bytes, root + children)
            self.peak_root_bytes = max(self.peak_root_bytes, root)
            self.peak_children_bytes = max(self.peak_children_bytes, children)
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
