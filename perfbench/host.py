"""Host label, driver-heap sizing, process-tree CPU time and an RSS sampler.

Nothing here assumes a machine: the core count comes from the process's own
affinity mask, the heap from the host's RAM, and no CPU is pinned.
"""

from __future__ import annotations

import os
import platform
import threading
import time
from pathlib import Path


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Spark ``local[k]`` width: every usable core but one, which is left to
    the driver (the benchmark process and the JVM's planner)."""
    return max(1, usable_cpus() - 1)


def cpu_model() -> str:
    try:
        for line in Path("/proc/cpuinfo").read_text().splitlines():
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or platform.machine()


def total_ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)


def driver_heap_mb() -> int:
    """An eighth of host RAM, between 1 GiB and 2 GiB: the inputs are a few
    MB, and the machine may be shared."""
    return max(1024, min(2048, total_ram_mb() // 8))


def label(k: int, spark_version: str, seed: int) -> dict:
    """Stamped on every result: numbers from different hosts never compare."""
    return {
        "nproc": usable_cpus(),
        "cpu_model": cpu_model(),
        "ram_mb": total_ram_mb(),
        "spark_cores": k,
        "spark_version": spark_version,
        "seed": seed,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, ()))
        todo.extend(kids.get(pid, ()))
    return out


def wait_for_children(timeout_s: float = 30.0) -> list[int]:
    """Wait until this process has no live descendants; returns those left.

    Zombies count as ended: their parent reaps them when it exits."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in descendants(os.getpid()) if not _is_zombie(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True


def tree_cpu_s(root: int) -> float:
    """User + system CPU time of ``root`` and its live descendants, with the
    reaped children each has waited for, in seconds. Time the hypervisor
    stole from the vCPUs is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in (root, *descendants(root)):
        try:
            f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        total += sum(int(v) for v in f[11:15])  # utime stime cutime cstime
    return total / tick


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants, in MB.

    Summed as PSS (each shared page split between the processes mapping
    it), so the Python workers forked from one daemon do not count their
    shared pages once each."""
    total = 0
    for pid in (root, *descendants(root)):
        try:
            text = Path(f"/proc/{pid}/smaps_rollup").read_text()
        except OSError:
            continue
        for line in text.splitlines():
            if line.startswith("Pss:"):
                total += int(line.split()[1])
                break
    return total / 1024.0


class RssSampler:
    """Samples the process tree's RSS on a thread while running; ``peak_mb``
    is the largest sample, ``cpu_s`` the CPU time the sampling has taken
    so far (reading ``smaps_rollup`` walks the page tables of every
    process, which the reader pays for)."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            t = time.thread_time()
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self.cpu_s += time.thread_time() - t
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
