"""CPU seconds and resident memory of a process tree, read from /proc.

The tree is the Spark JVM and every process under it (the Python worker
daemon and its forked workers). CPU is utime+stime of the live processes
plus cutime+cstime, which holds the time of children already reaped, so a
worker that exits inside the window is still counted once.

Memory is the summed RSS of the JVM and the Python processes under it,
from ``/proc/<pid>/statm``. Pages
that forked workers share copy-on-write with the Python daemon count once
per process, so the sum overstates the memory used: by 15-16% against
summed Pss on the flagship workload at 4 workers. Pss, from
``/proc/<pid>/smaps_rollup``, would count them once, but reading it walks
the page tables under each process's mmap lock: 33 ms of CPU per sample
of the tree on a 4-vCPU host, 18 ms of it in the JVM, against 0.1 ms for
``statm``. In consecutive 10-seed sets the flagship's median wall time
read 4.87 s with Pss sampled every 50 ms and 4.16 s with RSS.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields from index 3 (state) on


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while the process exists and has not exited (zombies count as
    exited)."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:  # utime stime cutime cstime
            total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:  # exited since the tree was listed
            pass
    return total


INTERVAL = 0.05  # seconds between memory samples
# samples between listings of the tree: a listing reads every /proc/<pid>/stat
# (2.4 ms of CPU with ~130 processes); PySpark reuses its workers, so each
# lives far longer than RELIST * INTERVAL
RELIST = 4


class Window:
    """Context manager for one timed window: ``cpu`` is the CPU seconds the
    tree used inside it, ``peak_rss`` the peak of the summed RSS of the JVM
    and its Python processes. A worker forked inside the window is counted
    from the next listing of the tree, at most ``RELIST * INTERVAL`` seconds
    later.

    Only memory held for two samples in a row counts towards the peak. In
    one set of ten ``job_waves`` runs, two peaks read 2.7 and 2.9 GB
    against 1.6-2.0 GB in the others, about one JVM RSS more; no other run
    (over 50, five of them watched process by process) went above 2.1 GB,
    and the cause was not found. One candidate is a process the JVM spawns:
    it shares all of the JVM's pages until it execs, so a sample taken at
    that moment counts the JVM twice. Such children are also left out of
    the sum, as they are not Python, though their CPU time is counted."""

    def __init__(self, root: int):
        self.root = root
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss = 0

    def _sample(self) -> None:
        n = prev = 0
        while True:
            if n % RELIST == 0:
                pids = [self.root] + [p for p in tree(self.root)[1:]
                                      if _comm(p).startswith("python")]
            cur = rss_bytes(pids)
            self.peak_rss = max(self.peak_rss, min(prev, cur))
            prev = cur
            n += 1
            if self._stop.wait(INTERVAL):
                return

    def __enter__(self) -> "Window":
        self._cpu0 = cpu_seconds(tree(self.root))
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.cpu = cpu_seconds(tree(self.root)) - self._cpu0
