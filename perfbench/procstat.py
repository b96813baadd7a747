"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process plus every descendant: the Spark
driver JVM, its Python daemon and the daemon's forked workers. CPU time
of a process that has exited is not lost: once its parent reaps it, it
shows up in the parent's ``cutime``/``cstime``, so summing
``utime + stime + cutime + cstime`` over the live tree gives a total
that only grows.
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm (field 2) may hold spaces; the fields after it follow ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[str]:
    """``root`` and all of its live descendants."""
    children: dict[str, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(entry)
        if f is not None:
            children.setdefault(f[1], []).append(entry)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``'s tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # stat fields 14-17 (utime stime cutime cstime), 0-based 11-14 here
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
        except (FileNotFoundError, ProcessLookupError, IndexError):
            pass
    return total


def _alive(pid: str) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] not in ("Z", "X")


def wait_gone(pids: list[str], timeout_s: float) -> list[str]:
    """Wait until none of ``pids`` runs any more; returns the survivors."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    return left


class RssSampler:
    """Background sampler of the tree's summed RSS; keeps the peak.

    Use as a context manager; ``reset()`` restarts the peak so a run can
    report the peak of its timed phase only.
    """

    def __init__(self, root: int | None = None, interval_s: float = 0.05) -> None:
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self.peak = rss

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
