"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (Linux only).

The tree is this Python driver, the JVM it launches and the JVM's Python
workers. CPU is ``utime + stime + cutime + cstime`` summed over the live
tree: a worker that exits is reaped by its parent, whose ``cutime`` then
carries its CPU, so the sum never drops work done between two reads.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces or ')': split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """CPU seconds used so far by the tree (fields 14-17 of ``stat``)."""
    total = 0
    for pid in tree_pids() if pids is None else pids:
        fields = _stat(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS on a background thread while active.

    ``with PeakRss() as p: ...`` then ``p.peak_bytes``. The process list
    is refreshed every ``REFRESH`` samples, so workers that start during
    the block are picked up."""

    INTERVAL_S = 0.02
    REFRESH = 10

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        n = 0
        pids = tree_pids()
        while not self._stop.is_set():
            if n % self.REFRESH == 0:
                pids = tree_pids()
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pids))
            n += 1
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> bool:
    """Wait until none of ``pids`` is alive. At the timeout, SIGKILL what
    is left and wait five more seconds; False if something survived."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return True
        if time.monotonic() > deadline:
            if killed:
                return False
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.05)
