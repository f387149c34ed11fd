"""CPU time and resident memory of this process's descendants, from /proc.

The JVM is a child of the benchmark process and the Python workers are
children of the JVM, so "descendants" is exactly the program under test.
CPU time of a worker that exits is kept because its parent reaps it and
``cutime``/``cstime`` of a live ancestor then include it.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    head, tail = raw.rsplit(")", 1)
    fields = tail.split()
    return int(fields[1]), [head.split("(", 1)[1]] + fields


def descendants(root: int) -> dict[int, list[str]]:
    """pid -> [comm, state, ppid, ...] for every live descendant of ``root``."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = procs[pid][1]
        todo.extend(children.get(pid, []))
    return out


def python_cpu_seconds(root: int) -> float:
    """utime+stime (+ reaped children's) of the Python processes below
    ``root`` (the Spark workers and their daemon)."""
    total = 0
    for f in descendants(root).values():
        # f[0] is comm; /proc stat fields 14-17 are utime stime cutime cstime
        if f[0].startswith("python"):
            total += int(f[12]) + int(f[13]) + int(f[14]) + int(f[15])
    return total / _TICKS


def python_rss_bytes(root: int) -> int:
    """Summed RSS of the Python processes below ``root`` (the Spark
    workers and their daemon; the benchmark process itself is ``root``)."""
    total = 0
    for f in descendants(root).values():
        if f[0].startswith("python"):
            total += int(f[22]) * _PAGE
    return total


class PeakSampler:
    """Samples ``python_rss_bytes`` on a thread; ``take()`` returns the
    peak since the previous ``take()`` and starts a new window."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self._root, self._interval = root, interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            rss = python_rss_bytes(self._root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def take(self) -> int:
        rss = python_rss_bytes(self._root)
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak


def jvm_hwm_mb(root: int) -> float:
    """Peak RSS (VmHWM) of the JVM below ``root``, in MB; 0 if none."""
    for pid, f in descendants(root).items():
        if f[0] == "java":
            try:
                with open(f"/proc/{pid}/status") as st:
                    for line in st:
                        if line.startswith("VmHWM:"):
                            return int(line.split()[1]) / 1024
            except OSError:
                pass
    return 0.0
