"""Host-side measurements that need no Spark: process start time, the peak
resident memory and CPU time of the Spark JVM and its Python workers, and
short CPU / memory-bandwidth probes recorded as context around a workload."""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_start_epoch() -> float:
    """Wall-clock time at which this interpreter process started (10 ms
    resolution), so set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started_after_boot = int(fields[19]) / _CLK_TCK
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - started_after_boot)


def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended between listing and reading
        return None
    return int(fields[1]), fields


def _tree(root: int) -> dict[int, list[str]]:
    """``root`` and all its descendants, pid -> /proc stat fields."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    members, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in members:
            members[pid] = stats[pid][1]
            frontier.extend(p for p, (ppid, _) in stats.items() if ppid == pid)
    return members


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(key))


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))


class PeakMemory:
    """Peak memory of the Spark JVM and the Python workers under it: the
    JVM's exact peak resident set (VmHWM, kept by the kernel) plus the
    largest proportional set size of the Python processes, sampled every
    ``period`` seconds on a background thread (PSS splits the pages that
    forked workers share instead of counting them once per worker)."""

    def __init__(self, jvm: int, period: float = 0.5):
        self.jvm, self.period, self.python_peak_kb = jvm, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = 0
            for pid in _tree(self.jvm):
                if pid != self.jvm:
                    try:
                        total += _pss_kb(pid)
                    except (OSError, StopIteration):  # the worker ended meanwhile
                        pass
            self.python_peak_kb = max(self.python_peak_kb, total)
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.jvm_peak_kb = _status_kb(self.jvm, "VmHWM:")

    @property
    def peak_bytes(self) -> int:
        return (self.jvm_peak_kb + self.python_peak_kb) * 1024


def worker_cpu_s(root: int) -> float:
    """CPU seconds of the Python processes under the JVM ``root`` (user +
    system, plus reaped children), which Spark's executorCpuTime omits."""
    total = 0
    for pid, f in _tree(root).items():
        if pid != root:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole VM since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_probe() -> dict:
    """Single-thread CPU speed and one-process memcpy bandwidth, best of three
    short repetitions each (about half a second in total)."""
    import numpy as np

    loop_ns = []
    for _ in range(3):
        t = time.perf_counter_ns()
        acc = 0
        for i in range(300_000):
            acc += i * i
        loop_ns.append((time.perf_counter_ns() - t) / 300_000)
    src = np.ones(64 << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    gbps = []
    for _ in range(3):
        t = time.perf_counter()
        np.copyto(dst, src)
        gbps.append(src.nbytes / (time.perf_counter() - t) / 1e9)
    return {"cpu_loop_ns": round(min(loop_ns), 2), "memcpy_gb_s": round(max(gbps), 2)}
