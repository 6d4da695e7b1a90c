"""Host-facing helpers: sizing the Spark session to the machine, a
single-thread speed calibration, and a peak-RSS sampler over the process
tree (this Python process, the JVM it launches and the Python workers)."""

from __future__ import annotations

import os
import threading
import time

# fixed JVM heap: the benchmark's inputs need well under it, and the package
# pre-touches the whole heap at start, so a larger one only costs set-up time
# and memory, and one that followed free memory would make set-up time and
# peak RSS follow the host's state
HEAP_MB = 1024


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def calibrate(seconds: float = 1.0) -> float:
    """Single-thread host speed in ops/s: a fixed matmul + FFT burn. The
    caller pins BLAS to one thread before numpy is first imported."""
    import numpy as np

    rng = np.random.default_rng(0)
    a, b = rng.random((256, 256)), rng.random((256, 256))
    x = rng.random(1 << 15)
    t_warm = time.perf_counter()
    while time.perf_counter() - t_warm < 0.2:  # untimed: lets the core clock settle
        a @ b
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        a @ b
        np.fft.rfft(x)
        n += 1
    return n / (time.perf_counter() - t0)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat: the
    steal share over an interval is how much CPU the hypervisor gave to other
    guests while this one wanted to run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def _proc_table() -> dict[int, tuple[int, tuple[int, ...]]]:
    """pid -> (parent pid, /proc/<pid>/statm fields) of every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                statm = tuple(int(x) for x in f.read().split())
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listing and reading
        table[int(d)] = (ppid, statm)
    return table


def tree_rss_pages(root: int, table: dict[int, tuple[int, tuple[int, ...]]]) -> int:
    """Resident pages of ``root`` and its descendants. A child with its
    parent's program size and data size has not diverged from the parent's
    memory: either a vfork/posix_spawn child that still runs in the parent's
    address space until its exec (the JVM starts every subprocess that way,
    and counting one would count the JVM twice) or a fork whose pages are
    still all shared with the parent. It is not counted again."""

    def same_as_parent(pid: int) -> bool:
        ppid, (size, _, _, _, _, data, _) = table[pid]
        parent = table.get(ppid)
        return parent is not None and (parent[1][0], parent[1][5]) == (size, data)

    pids = [pid for pid in (root, *descendants(root, table)) if pid in table]
    return sum(table[p][1][1] for p in pids if p == root or not same_as_parent(p))


def descendants(
    root: int, table: dict[int, tuple[int, tuple[int, ...]]] | None = None
) -> list[int]:
    """Every live process below ``root``."""
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        below = kids.get(stack.pop(), [])
        out += below
        stack += below
    return out


class RssSampler(threading.Thread):
    """Samples the RSS of this process and all its descendants every
    ``period_s`` and keeps the peak."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self.base_bytes = None  # RSS at mark()
        self.peak_after_bytes = 0  # peak since mark()
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        rss = tree_rss_pages(os.getpid(), _proc_table()) * self._page
        self.peak_bytes = max(self.peak_bytes, rss)
        if self.base_bytes is not None:
            self.peak_after_bytes = max(self.peak_after_bytes, rss)
        return rss

    def mark(self) -> None:
        self.base_bytes = self._sample()

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.period_s)

    def stop(self) -> float:
        """Stop sampling and return the peak in MiB."""
        self._halt.set()
        self.join(timeout=5)
        self._sample()
        return self.peak_bytes / (1 << 20)
