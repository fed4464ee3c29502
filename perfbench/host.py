"""Host-side measurement: a /proc RSS sampler over the benchmark's process
tree, and two short probes that identify runs taken on a contended host.

The probes are recorded with every run but enter no metric: a run whose
single-thread or memory-bandwidth probe reads far above the usual value
was taken while another tenant held the CPU or the memory bus.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICKS = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: ppid follows
        # the LAST ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except OSError:
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return b"python" in os.path.basename(argv0)


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its live
    descendants, including children they have reaped. The difference over a
    call is its CPU cost across the driver, the JVM and the Python workers:
    unlike wall time, it does not stretch when another tenant takes the
    cores."""
    me = os.getpid()
    ticks = 0
    for pid in [me, *descendants(me)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICKS


class RssSampler:
    """Samples the summed RSS of this process and all its descendants.

    ``peak_mb`` is the largest total seen (driver Python + JVM + Python
    workers); ``workers_peak_mb`` and ``workers_max`` cover the Python
    processes below the JVM alone (Spark's Python daemon and its workers),
    ``driver_peak_mb`` and ``jvm_peak_mb`` the other two parts, and
    ``python_peak_mb`` the driver and the workers together.
    """

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.workers_peak_mb = 0.0
        self.workers_max = 0
        self.driver_peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self.python_peak_mb = 0.0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        pids = descendants(me)
        self.seen.update(pids)
        driver_kb = _rss_kb(me)
        workers_kb, workers, jvm_kb = 0, 0, 0
        for pid in pids:
            kb = _rss_kb(pid)
            if _is_python(pid):
                workers_kb += kb
                workers += 1
            else:
                jvm_kb += kb
        total = driver_kb + jvm_kb + workers_kb
        self.peak_mb = max(self.peak_mb, total / 1024)
        self.driver_peak_mb = max(self.driver_peak_mb, driver_kb / 1024)
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm_kb / 1024)
        self.python_peak_mb = max(self.python_peak_mb, (driver_kb + workers_kb) / 1024)
        self.workers_peak_mb = max(self.workers_peak_mb, workers_kb / 1024)
        self.workers_max = max(self.workers_max, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def jvm_held_mb(spark) -> float:
    """Heap and non-heap memory the JVM uses after a full collection, which
    this call runs, in MB. Unlike the JVM's RSS, which also holds garbage
    in an amount set by when its collector last ran, this depends on the
    data the run keeps alive."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def wait_gone(pids: set[int], timeout_s: float = 30.0) -> list[int]:
    """Wait for every pid to exit; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def cpu_probe_s(iterations: int = 3_000_000) -> float:
    """Single-thread integer loop (bench.py's LCG burn, shortened)."""
    t0 = time.perf_counter()
    x = 0
    for _ in range(iterations):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return time.perf_counter() - t0


def membw_probe_s(n: int = 4_000_000) -> float:
    """Random gather over a 32 MB array (bench.py's bandwidth control,
    shortened): slows when another tenant saturates the memory bus."""
    t0 = time.perf_counter()
    rng = np.random.default_rng(12345)
    arr = rng.integers(0, 1 << 30, size=n, dtype=np.int64)
    int(arr[rng.permutation(n)].sum() & 0x7FFFFFFF)
    return time.perf_counter() - t0
