"""CPU time and memory of this process tree, read from ``/proc``.

The tree is this Python driver, the Spark JVM it launched and the Python
workers the JVM forks. CPU time of a process that exited and was reaped is
already folded into its parent's ``cutime``/``cstime``, so the sum over the
live tree of user + system + reaped-children time only ever grows.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system seconds of the live tree plus its reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime are fields 14-17 of /proc/pid/stat
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[21])  # rss in pages, field 24
    return total * _PAGE / 2**20


class RssSampler:
    """Background thread recording the peak RSS of the process tree from
    construction until ``stop()``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = tree_rss_mb()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb
