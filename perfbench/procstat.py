"""Process-tree accounting from /proc: resident memory and CPU time.

The benchmark process starts the JVM (through spark-submit), and the JVM
forks the pyspark worker daemon, which forks one worker per Python task.
All of them are descendants of this process, so walking /proc from our
own pid finds the whole engine.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree() -> dict[int, list[str]]:
    """{pid: stat fields} for this process and all its descendants."""
    root = os.getpid()
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def rss_bytes() -> int:
    """Summed RSS of the tree. A child the JVM is spawning shares the
    JVM's memory until it execs, and then shows the same command line
    and RSS as its parent; it is not counted twice."""
    procs = tree()
    total = 0
    for pid, st in procs.items():
        parent = procs.get(int(st[1]))
        if parent is not None and parent[21] == st[21] and _cmdline(pid) == _cmdline(int(st[1])):
            continue
        total += int(st[21])
    return total * _PAGE


def cpu_by_role() -> dict[str, float]:
    """CPU seconds (user + system) of the driver, the JVM and the pyspark
    workers. Exited workers are reaped by the pyspark daemon, so their
    time is in the daemon's children counters, which are included."""
    root = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, st in tree().items():
        own = (int(st[11]) + int(st[12])) / _TICK
        reaped = (int(st[13]) + int(st[14])) / _TICK
        cmd = _cmdline(pid)
        if pid == root:
            out["driver"] += own
        elif cmd.split(" ", 1)[0].endswith("java"):
            out["jvm"] += own
        elif "pyspark" in cmd:
            out["pyworker"] += own + reaped
    return out


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``peak`` is
    the high-water mark in bytes. Use as a context manager."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes())
