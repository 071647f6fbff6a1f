"""CPU time and resident memory of a process tree, read from ``/proc``.

psutil is not installed, so the benchmark reads ``/proc/<pid>/stat``
directly. The tree is the benchmark's own process plus every
descendant: the Spark driver JVM it launches and the Python worker
daemon and workers that JVM forks.

CPU time of the tree is the sum over live processes of
``utime + stime + cutime + cstime``. A child that exits is reaped by
its parent, which adds the child's total CPU time to its own
``cutime``/``cstime``, so the sum stays correct across worker churn as
long as the parent is still in the tree.
"""

from __future__ import annotations

import os
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5), counted after "pid (comm)"
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICKS


def _rss_bytes(pid: int) -> int:
    """Resident set size of one process, 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class PeakRss:
    """Samples the tree's summed RSS on a background thread and keeps
    the maximum. A sample reads only the tree's own processes; the tree
    is re-listed from ``/proc`` every ``relist_s``, so a sample costs a
    few small reads and keeps the driver's interpreter lock free. Use as
    a context manager; ``peak_bytes`` is valid after exit."""

    def __init__(self, root: int, interval_s: float = 0.1, relist_s: float = 1.0):
        self.root = root
        self.interval_s = interval_s
        self.relist_s = relist_s
        self.peak_bytes = 0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def visit(self) -> None:
        """Re-list the tree and sample it; call before the tree shuts down."""
        self._pids = tree_pids(self.root)
        self._sample()

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes,
                              sum(_rss_bytes(p) for p in self._pids))

    def _loop(self) -> None:
        listed = float("-inf")
        while not self._stop.wait(self.interval_s):
            now = time.monotonic()
            if now - listed >= self.relist_s:
                self.visit()
                listed = now
            else:
                self._sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_descendants(root: int, timeout_s: float = 20.0) -> None:
    """Terminate whatever ``root`` left running below it and wait until
    each process is gone (orphans are reparented, so poll /proc rather
    than wait())."""
    import signal

    def alive(pid: int) -> bool:
        f = _stat_fields(pid)
        return f is not None and f[0] != "Z"

    left = [p for p in tree_pids(root) if p != root]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while left and time.monotonic() < deadline:
            left = [p for p in left if alive(p)]
            if left:
                time.sleep(0.05)
        if not left:
            return
