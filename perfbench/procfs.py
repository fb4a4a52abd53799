"""Process-tree CPU and memory from /proc, plus the host stamp.

The benchmark's process tree is: this Python driver -> the Spark JVM
(``java``) -> the PySpark daemon and its forked Python workers.  CPU is
read as utime+stime of every live process in the tree plus
cutime+cstime (children already reaped), so a worker that exits keeps
its seconds in its parent's total.
"""

from __future__ import annotations

import os
import platform
import threading
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """-> (ppid, comm, utime+stime ticks, cutime+cstime ticks, rss pages)."""
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    comm = s[s.index("(") + 1 : s.rindex(")")]
    f2 = s[s.rindex(")") + 2 :].split()
    # fields after comm start at field 3 (state); see proc(5)
    return (int(f2[1]), comm, int(f2[11]) + int(f2[12]),
            int(f2[13]) + int(f2[14]), int(f2[21]))


def tree(root: int | None = None) -> dict[int, tuple]:
    """Every live process under (and including) `root`: pid -> _stat."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _stat(int(name))
            except (FileNotFoundError, ProcessLookupError, ValueError):
                continue
    kids: dict[int, list[int]] = {}
    for pid, st in procs.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(kids.get(pid, []))
    return out


def _jvm_split(t: dict[int, tuple]) -> tuple[list[int], set[int]]:
    """-> (the ``java`` pids of tree `t`, every pid the JVM started)."""
    jvm = [p for p, st in t.items() if st[1] == "java"]
    under_jvm = set()
    for j in jvm:
        under_jvm |= set(tree(j)) - {j}
    return jvm, under_jvm


def cpu_by_role(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far, split into driver / jvm / pyworker / total.

    driver = this process's own time; jvm = the ``java`` process's own
    time; pyworker = everything the JVM started (daemon + workers,
    reaped ones included); total = the whole tree, reaped processes
    included."""
    root = os.getpid() if root is None else root
    t = tree(root)
    jvm, under_jvm = _jvm_split(t)
    return {
        "driver": t[root][2] / _TICK,
        "jvm": sum(t[p][2] for p in jvm) / _TICK,
        "pyworker": (sum(t[p][2] + t[p][3] for p in under_jvm if p in t)
                     + sum(t[p][3] for p in jvm)) / _TICK,
        "total": sum(st[2] + st[3] for st in t.values()) / _TICK,
    }


def rss_mb(pids) -> float:
    """Resident memory of `pids` (those of them still in the tree), MB."""
    t = tree()
    return sum(t[p][4] for p in pids if p in t) * _PAGE / 2**20


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones divided among
    the processes sharing them (forked Python workers share the
    daemon's pages, which plain RSS would count once per worker)."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def mem_by_role() -> dict[str, float]:
    """Resident memory of the tree, MB, split into driver / jvm /
    pyworker as in cpu_by_role: RSS for the driver and the JVM (read
    from /proc/<pid>/stat; smaps_rollup of a multi-GB JVM costs tens of
    ms of CPU per read), PSS for the processes the JVM started."""
    root = os.getpid()
    t = tree(root)
    jvm, under_jvm = _jvm_split(t)
    out = {"driver": t[root][4] * _PAGE / 2**20,
           "jvm": sum(t[p][4] for p in jvm) * _PAGE / 2**20,
           "pyworker": 0.0}
    for pid in under_jvm:
        try:
            out["pyworker"] += _pss_kb(pid) / 1024
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def thread_cpu_s(tid: int) -> float:
    """CPU seconds so far of one thread of this process."""
    with open(f"/proc/self/task/{tid}/stat") as f:
        s = f.read()
    f2 = s[s.rindex(")") + 2 :].split()
    return (int(f2[11]) + int(f2[12])) / _TICK


class PeakRss:
    """Background sampler of the tree's resident memory (mem_by_role):
    the peak of the total, the split by role at that peak, and each
    role's own peak.  Its own CPU counts as the driver's; ``cpu_s()``
    lets the caller take it out again."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self.peak_by_role: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        by = mem_by_role()
        total = sum(by.values())
        if total > self.peak_mb:
            self.peak_mb, self.at_peak = total, by
        for role, mb in by.items():
            self.peak_by_role[role] = max(self.peak_by_role.get(role, 0.0), mb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def cpu_s(self) -> float:
        """CPU seconds the sampler thread has used so far."""
        return thread_cpu_s(self._thread.native_id)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def steal_probe() -> float:
    """Fixed single-threaded numpy workload, timed (seconds).  A stolen
    window reads several times slower than a quiet one; elementwise
    numpy never multi-threads, so the reading does not depend on the
    core count."""
    a = np.arange(2_000_000, dtype=np.float64) * 1e-7
    b = np.zeros_like(a)
    t0 = time.perf_counter()
    for _ in range(30):
        b = np.sqrt(a * a + b) * 0.5
    return time.perf_counter() - t0


def steal_ticks() -> tuple[int, int]:
    """-> (steal, all) clock ticks so far, summed over the host's CPUs.
    Steal is the time the hypervisor gave to other guests while this
    one wanted to run (the `steal` column of /proc/stat; 0 on bare
    metal)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_s() -> float:
    """Steal so far, CPU seconds."""
    return steal_ticks()[0] / _TICK


def host_stamp(cpus: list[int]) -> dict:
    import pyspark

    return {
        "affinity_cpus": len(cpus),
        "cpu_list": cpus,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": np.__version__,
        "machine": platform.machine(),
    }


def wait_gone(pids, timeout: float = 30.0) -> list[int]:
    """Wait until none of `pids` is alive; -> the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if alive:
            time.sleep(0.05)
    return alive


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
        return s[s.rindex(")") + 2]
    except (FileNotFoundError, ProcessLookupError):
        return "X"
