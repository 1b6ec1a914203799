"""Host-window diagnostics and process-tree memory.

The three probes are recorded beside every run's metrics. They never
gate, drop or repeat a sample; they let a reader tell a noisy host
window from an engine change.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def membw_probe(mib: int = 128, reps: int = 4) -> float:
    """Best-of copy bandwidth in GB/s (read + write bytes) of a numpy
    array much larger than the last-level cache."""
    a = np.ones(mib << 17, dtype=np.float64)
    b = np.empty_like(a)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t0)
    return 2 * a.nbytes / best / 1e9


def jvm_probe(spark, rows: int = 300_000_000) -> float:
    """Seconds for a pure-JVM hash reduction (no shuffle, no Python)."""
    t0 = time.perf_counter()
    spark.range(rows).selectExpr("xxhash64(id) h").selectExpr("bit_xor(h)").collect()
    return time.perf_counter() - t0


def disk_probe(directory: str, mib: int = 64) -> float:
    """Seconds to write, fsync and read back ``mib`` MiB."""
    buf = b"\x5a" * (8 << 20)
    path = os.path.join(directory, f"disk_probe_{os.getpid()}")
    t0 = time.perf_counter()
    try:
        with open(path, "wb") as f:
            for _ in range(mib // 8):
                f.write(buf)
            f.flush()
            os.fsync(f.fileno())
        with open(path, "rb") as f:
            while f.read(8 << 20):
                pass
    finally:
        os.unlink(path)
    return time.perf_counter() - t0


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes (VmRSS) of ``root_pid`` and all its descendants, from
    /proc. Pages that forked Python workers share count once per process.
    (PSS would split them, but reading ``smaps_rollup`` walks the page
    tables of the JVM's heap: tens of milliseconds of kernel time holding
    the JVM's memory-map lock, which slows the run being measured.)"""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread tracking the peak resident size of this process
    tree (driver Python, the JVM, Python workers)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def take_peak(self) -> int:
        """Peak since the last call, then reset."""
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            p, self.peak = max(self.peak, rss), 0
        return p

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
