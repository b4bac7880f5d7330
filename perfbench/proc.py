"""Process-tree helpers read from ``/proc`` (psutil is not available).

The driver's tree is this Python process, the Spark JVM it launches and the
Python workers the JVM forks.  Its memory is the sum of each process's
proportional set size (PSS): resident pages, with a page shared by n
processes counted 1/n in each.  Summed plain RSS would count the pages the
forked workers share with their daemon once per worker, so it would move
with how many idle workers happen to be alive, not with memory in use.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except FileNotFoundError:
        # kernels before 4.14 have no smaps_rollup: fall back to RSS
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE
    return 0


def tree_memory_bytes(root: int) -> int:
    """Summed PSS of ``root`` and its descendants."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            total += _pss_bytes(pid)
        except OSError:   # the process exited while being read
            continue
    return total


class PeakMemory:
    """Samples the summed PSS of ``root``'s process tree every ``interval``
    seconds between ``start()`` and ``stop()``; ``stop()`` returns the peak
    in bytes.  One sample reads smaps_rollup of ~10 processes, ~20 ms of
    one core, so the interval keeps the sampler to a few percent of it."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self._halt = threading.Event()
        self._peak = 0
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self._peak = max(self._peak, tree_memory_bytes(self.root))
            if self._halt.wait(self.interval):
                return

    def start(self) -> None:
        self._halt.clear()
        self._peak = tree_memory_bytes(self.root)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._halt.set()
        self._thread.join()
        return max(self._peak, tree_memory_bytes(self.root))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:stat.rindex(b")") + 3] != b"Z"


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, what outlives
    ``timeout``.  Zombies left by exited children are collected."""
    deadline = time.monotonic() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + 5.0
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not any(_alive(p) for p in pids):
            break
    for pid in pids:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
