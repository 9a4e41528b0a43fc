"""CPU, memory and run context of the processes the benchmark starts.

The driver JVM is a child of the benchmark process and the Python workers
are children of the JVM, so everything below the benchmark process is the
converter's cost. Figures come from ``/proc``; nothing here is used to
rescale a timing.
"""

from __future__ import annotations

import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None  # exited between listing and reading
    # comm may hold spaces: fields after the closing parenthesis
    return text[text.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    out, frontier = [], {root}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        out.extend(kids)
        frontier = kids
    return out


def tree_cpu(root: int) -> dict[tuple[int, int], float]:
    """User + system CPU seconds of each of ``root``'s descendants,
    including children it has already reaped, keyed by (pid, start time)
    so a reused pid is a new process."""
    out = {}
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat,
            # starttime is field 22
            out[pid, int(st[19])] = sum(int(x) for x in st[11:15]) / _TICK
    return out


def cpu_between(start: dict, end: dict) -> float:
    """CPU seconds spent between two ``tree_cpu`` snapshots by the
    processes alive at the second. A process that exited in between adds
    nothing: the Python daemon ignores SIGCHLD, so an idle worker it ends
    takes its CPU total with it, and a plain difference of sums would
    subtract that worker's whole life from the interval."""
    return sum(s - start.get(key, 0.0) for key, s in end.items())


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages a forked Python worker still shares
    with the daemon are split among them instead of counted per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE / 2**20


def converter_memory_mb(root: int) -> dict[str, float]:
    """Resident MB of the JVM (RSS; its pages are its own) and of the
    Python daemon and workers below it (PSS, walking only their small
    page tables). Helper processes the JVM spawns (chmod and the like)
    are left out: before their exec they briefly share the JVM's pages,
    which would count the JVM twice."""
    out: dict[str, float] = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm == "java":
                mb = _rss_mb(pid)
            elif comm.startswith("python"):
                mb = _pss_mb(pid)
            else:
                continue
        except OSError:
            continue  # exited while sampled
        out[comm] = out.get(comm, 0.0) + mb
    return out


class PeakMemory:
    """Samples resident memory every ``interval`` seconds on a background
    thread: ``worker_mb`` is the peak of the Python daemon and workers
    together, ``jvm_mb`` the JVM's peak. Reading PSS walks page tables,
    so the interval stays coarse."""

    def __init__(self, root: int, interval: float = 0.25):
        self._root, self._interval = root, interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.worker_mb = 0.0
        self.jvm_mb = 0.0

    def _run(self) -> None:
        while not self._stop.is_set():
            mem = converter_memory_mb(self._root)
            workers = sum(mb for comm, mb in mem.items() if comm.startswith("python"))
            self.worker_mb = max(self.worker_mb, workers)
            self.jvm_mb = max(self.jvm_mb, mem.get("java", 0.0))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_for_descendants(root: int, timeout: float) -> list[int]:
    """Wait until ``root`` has no descendants left; returns the stragglers."""
    deadline = time.monotonic() + timeout
    while (left := descendants(root)) and time.monotonic() < deadline:
        time.sleep(0.1)
    return left


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(start, end)]
    return round(100.0 * d[7] / max(1, sum(d)), 3)


def context(spark) -> dict:
    """Host and library versions for the artifact (recorded only)."""
    import pandas
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
