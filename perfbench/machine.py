"""Machine fit, environment record and process-tree accounting from /proc.

Everything here reads the kernel's own counters: the session is sized from
/proc/meminfo and the CPU affinity mask, CPU time and RSS come from
/proc/<pid>/stat, and noise is recorded as CPU steal (/proc/stat), load
average and a fixed NumPy calibration workload.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def session_fit() -> dict:
    """Session settings for this machine: every core the process may use,
    a driver heap of an eighth of physical memory (1-2 GiB; local mode runs
    executors inside the driver JVM, and the inputs are tens of MB) and two
    shuffle partitions per core."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
    heap_mb = min(2048, max(1024, mem_kb["MemTotal"] // 8192 // 256 * 256))
    return {
        "cores": cores,
        "master": f"local[{cores}]",
        "driver_memory": f"{heap_mb}m",
        "shuffle_partitions": cores,
        "mem_total_mb": mem_kb["MemTotal"] // 1024,
        "mem_available_mb": mem_kb["MemAvailable"] // 1024,
    }


def calib_ms() -> float:
    """Single-core contention sentinel (the same workload as bench.py's):
    best of 5 for a fixed NumPy loop. A drift between the start and end of
    a run marks a noisy window that steal ticks alone can miss."""
    import numpy as np

    x = np.arange(2_000_000, dtype=np.float64)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(5):
            x = np.sqrt(x * 1.0000001 + 1.0)
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7]


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return 100.0 * (t1[1] - t0[1]) / max(t1[0] - t0[0], 1)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may contain spaces; the fields after it start past ')'
    return data[data.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = _children_map() if kids is None else kids
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += int(st[21])
    return total * _PAGE / 2**20


def _comm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return None


class ProcessTree:
    """The benchmark's process tree: this Python driver, the Spark JVM and
    the Python workers the JVM forks. Samples RSS on a background thread
    between ``job_start`` and ``job_end``, keeping each job's peak.

    CPU time is each process's own utime + stime, kept per (pid, start
    time) after the process exits: the PySpark daemon does not wait for its
    workers, so their time never reaches a parent's cutime and a sum over
    the live tree would drop whenever a worker exits."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.job_peak_mb = 0.0
        self.sampling = threading.Event()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._own: dict[tuple[int, str], tuple[float, bool]] = {}  # -> (CPU s, a JVM worker)
        self._lock = threading.Lock()

    def _refresh(self) -> list[int]:
        """Record the CPU time of every live process of the tree; returns
        the pids whose RSS counts. A child of the JVM that is still the JVM
        has forked to run a shell command and not yet exec'd it: its RSS
        is the JVM's own pages a second time."""
        kids = _children_map()
        pids = [os.getpid()] + descendants(os.getpid(), kids)
        workers = set(descendants(self.jvm_pid, kids))
        with self._lock:
            for pid in pids:
                st = _stat(pid)
                if st is not None:
                    self._own[(pid, st[19])] = ((int(st[11]) + int(st[12])) / _TICK, pid in workers)
        jvm = _comm(self.jvm_pid)
        forks = {p for p in kids.get(self.jvm_pid, []) if _comm(p) == jvm}
        return [p for p in pids if p not in forks]

    def cpu_s(self) -> float:
        self._refresh()
        with self._lock:
            return sum(c for c, _ in self._own.values())

    def worker_cpu_s(self) -> float:
        self._refresh()
        with self._lock:
            return sum(c for c, w in self._own.values() if w)

    def job_start(self) -> None:
        self.job_peak_mb = 0.0
        self.sampling.set()

    def job_end(self) -> float:
        """Stop sampling; returns the job's peak RSS in MB."""
        self.sampling.clear()
        return self.job_peak_mb

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def _run(self) -> None:
        pids, n = self._refresh(), 0
        while not self._stop.wait(self.interval_s):
            if not self.sampling.is_set():
                continue
            n += 1
            if n % 5 == 0:  # workers come and go; refresh the tree every ~0.5 s
                pids = self._refresh()
            self.job_peak_mb = max(self.job_peak_mb, rss_mb(pids))


def environment(fit: dict) -> dict:
    return {
        "fit": fit,
        "loadavg": loadavg(),
        "calib_ms": calib_ms(),
        "ticks": cpu_ticks(),
        "time": time.time(),
    }
