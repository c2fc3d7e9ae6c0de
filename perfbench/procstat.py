"""CPU and RSS of this process tree (the driver, its JVM and every Python
worker) read from ``/proc`` — no psutil.

CPU of a process tree = utime + stime + cutime + cstime summed over the
live members: a worker that exited and was reaped by its parent (the
PySpark daemon) is already folded into that parent's ``cutime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str):
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    # comm may contain spaces: fields after the closing paren are fixed
    rest = raw[raw.rindex(")") + 2:].split()
    ppid = int(rest[1])
    cpu = sum(int(v) for v in rest[11:15]) / _TICK
    rss = int(rest[21]) * _PAGE
    return ppid, cpu, rss


def _members(root: int) -> dict:
    """{pid: stat} of ``root`` and its live descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(name)
            if s is not None:
                stats[int(name)] = s
    children: dict = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree(root: int | None = None):
    """(cpu_seconds, rss_bytes) summed over ``root`` and its descendants."""
    members = _members(root or os.getpid()).values()
    return sum(m[1] for m in members), sum(m[2] for m in members)


def host_ticks():
    """(steal, total) jiffies of the host's CPUs from ``/proc/stat``: the
    time the hypervisor ran something else on them, for telling a slow run
    from a busy machine."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def descendants() -> list:
    """Live descendants of this process."""
    me = os.getpid()
    return [pid for pid in _members(me) if pid != me]


class PeakRss:
    """Background sampler of the tree's combined RSS; ``with`` scopes it."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree()[1])
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
