"""CPU time and resident memory of a process tree, read from /proc.

The benchmark's own process is the Spark driver; the JVM it launches and
the ``pyspark.daemon`` workers that JVM forks are its descendants.  All of
them are measured from outside the program: nothing here asks Spark.

CPU is ``utime + stime + cutime + cstime`` summed over every live process
of the tree.  A worker that exits between two snapshots hands its time to
its parent's ``cutime`` when it is reaped, so the difference of two sums
is the CPU the tree used in between.  For the split by kind, a process's
own time counts as its kind and its reaped children's time as Python:
the JVM's children are ``pyspark.daemon`` processes, and the daemon's are
its workers.
"""

from __future__ import annotations

import collections
import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(comm, ppid, (own, reaped children's) cpu ticks, rss_bytes) of one
    process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    lp, rp = raw.find("("), raw.rfind(")")
    comm = raw[lp + 1:rp]
    rest = raw[rp + 2:].split()
    # rest[0] is field 3 (state) of proc(5): field n sits at rest[n - 3]
    ticks = (int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14]))
    return comm, int(rest[1]), ticks, int(rest[21]) * _PAGE


def alive(pid: int) -> bool:
    """Whether pid exists and has not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rfind(b")") + 2:][:1] != b"Z"


def tree(root: int | None = None) -> dict:
    """{pid: _stat(pid)} for root and its descendants."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict = {}
    for pid, st in procs.items():
        children.setdefault(st[1], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def kind(comm: str) -> str:
    if comm == "java":
        return "jvm"
    if comm.startswith("python") or comm.startswith("pyspark"):
        return "python"
    return "other"


def cpu_by_kind(snapshot: dict) -> dict:
    """CPU seconds of a tree snapshot, split by process kind."""
    out = {"jvm": 0.0, "python": 0.0, "other": 0.0}
    for comm, _ppid, (own, children), _rss in snapshot.values():
        out[kind(comm)] += own / _TICK
        out["python"] += children / _TICK
    return out


def cpu_delta(before: dict, after: dict) -> dict:
    """CPU seconds used between two snapshots, split by kind plus ``total``."""
    a, b = cpu_by_kind(after), cpu_by_kind(before)
    out = {k: a[k] - b[k] for k in a}
    out["total"] = sum(out.values())
    return out


def rss_bytes(snapshot: dict) -> int:
    return sum(st[3] for st in snapshot.values())


class PeakRss:
    """Samples the summed RSS of the tree on a thread until stopped.

    Use as a context manager around the measured call; ``peak`` holds the
    largest sum seen, including one sample at entry and one at exit."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.at_peak = collections.Counter()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        snap = tree()
        total = rss_bytes(snap)
        if total > self.peak:
            self.peak = total
            self.at_peak = collections.Counter()
            for comm, _ppid, _ticks, rss in snap.values():
                self.at_peak[kind(comm)] += rss
            self.at_peak["processes"] = len(snap)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False
