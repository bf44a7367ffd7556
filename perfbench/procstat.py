"""CPU and resident memory of the Spark process tree, read from ``/proc``.

The tree is rooted at the driver's JVM: in local mode the executor runs
inside it, and the Python workers are children of the JVM's
``pyspark.daemon``, not of the Python driver.  A process reaped inside the
tree has its CPU added to its parent's ``cutime``/``cstime``, so summing
all four counters over the live tree never loses a worker that exited.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
POLL_S = 0.05  # RSS poll interval; one poll lists /proc once
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


@dataclass(frozen=True)
class Sample:
    cpu_s: float  # JVM + Python workers, user + system, reaped children included
    worker_cpu_s: float  # the non-JVM (Python) part of cpu_s
    rss_mb: float


def _stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, cpu ticks incl. reaped children, rss pages)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:  # exited between listing and reading
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return comm, int(f[1]), ticks, int(f[21])


def sample(root: int) -> Sample:
    """One reading over ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_comm, ppid, _t, _r) in stats.items():
        children.setdefault(ppid, []).append(pid)
    cpu = worker = rss = 0
    todo = [root] if root in stats else []
    while todo:
        pid = todo.pop()
        comm, _ppid, ticks, pages = stats[pid]
        cpu += ticks
        rss += pages
        if comm != "java":
            worker += ticks
        todo.extend(children.get(pid, ()))
    return Sample(cpu / _TICK, worker / _TICK, rss * _PAGE / 2**20)


class PeakRss:
    """Background poller: the peak summed RSS of the tree while open."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, sample(self.root).rss_mb)
            if self._stop.wait(POLL_S):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@dataclass(frozen=True)
class Usage:
    """What one measured call cost the tree."""

    wall_s: float
    cpu_s: float
    worker_cpu_s: float
    peak_rss_mb: float


def measure(root: int, fn) -> Usage:
    """Run ``fn()`` and return its wall time, the tree's CPU deltas and the
    tree's peak summed RSS while it ran."""
    before = sample(root)
    with PeakRss(root) as peak:
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
    after = sample(root)
    return Usage(
        wall,
        after.cpu_s - before.cpu_s,
        after.worker_cpu_s - before.worker_cpu_s,
        max(peak.peak_mb, after.rss_mb),
    )


# ---------------------------------------------------------------- clean exit
def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, not to init.

    Spark's ``pyspark.daemon`` and its workers are children of the JVM; when
    the JVM exits they are orphaned and may still be shutting down.  As a
    subreaper this process inherits them and ``reap_children`` can wait for
    them before the benchmark exits."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def children(pid: int) -> list[int]:
    """Processes whose parent is ``pid``, zombies included."""
    kids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and st[1] == pid:
                kids.append(int(name))
    return kids


def reap_children(grace_s: float = 10.0, kill_after_s: float = 2.0) -> None:
    """Wait until this process has no children left, reaping each.

    Children get ``grace_s`` to exit by themselves, then SIGTERM, then,
    ``kill_after_s`` later, SIGKILL."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        kids = children(me)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # reaped elsewhere in the meantime
                pass
        kids = children(me)
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + kill_after_s
        time.sleep(POLL_S)
