"""Host-side measurements: process-tree memory, the compute control, spans.

Memory is read from ``/proc`` because the driver JVM and the Python workers
it forks are child processes of the benchmark; the peak is the largest sum
of their resident sets seen by a sampling thread.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # the command name is in parentheses and may contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree[ppid].append(int(entry))
    return tree


def _memory(pid: int) -> tuple[str, int, int]:
    """(name, resident kB, virtual kB) of ``pid``; zeros once it ended."""
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            fields = dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return "", 0, 0
    kb = lambda key: int(fields.get(key, "0 kB").split()[0])  # noqa: E731
    return fields.get("Name", "").strip(), kb("VmRSS"), kb("VmSize")


def tree_rss_mb(root: int) -> tuple[float, float]:
    """(whole tree, Python workers) resident MiB under ``root``.

    The tree is ``root`` plus every ``java`` and ``python*`` process below
    it: the driver JVM and, in local mode, the Python daemon and workers it
    forks. Other processes are skipped, and so is any child that still
    shares its parent's address space (a vfork/posix_spawn child before its
    exec carries a JVM thread's name and the whole JVM's resident set).
    """
    tree = _children()
    total = workers = 0
    stack = [(root, None)]
    while stack:
        pid, parent = stack.pop()
        name, rss, vsz = mem = _memory(pid)
        shares_parent = parent is not None and vsz == parent[2] and abs(rss - parent[1]) <= parent[1] // 20
        if pid != root and (shares_parent or not (name == "java" or name.startswith("python"))):
            continue
        total += rss
        if pid != root and name.startswith("python"):
            workers += rss
        stack.extend((child, mem) for child in tree.get(pid, ()))
    return total / 1024, workers / 1024


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds while on."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            total, workers = tree_rss_mb(root)
            self.peak_mb = max(self.peak_mb, total)
            self.peak_workers_mb = max(self.peak_workers_mb, workers)
            self._stop.wait(self.interval)

    def start(self) -> None:
        """Start (or resume) sampling; the peaks carry over."""
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


class Spans:
    """Wall time of named calls made from the benchmark's own code."""

    def __init__(self):
        self.seconds: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name].append(time.perf_counter() - t0)

    def median(self, name: str) -> float:
        values = self.seconds.get(name)
        return statistics.median(values) if values else 0.0


CONTROL_ROWS = 4_000_000


def control_rows_per_s(spark, rows: int = CONTROL_ROWS, reps: int = 3) -> float:
    """Same-window compute control: a shuffle-free hash aggregate over
    ``spark.range`` that touches no input and no program code. It moves
    only with the host (CPU contention, frequency), so a slow window can
    be told apart from a regression."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(rows).selectExpr(
            "sum(pmod(xxhash64(id, id * 31, id * 131), 1000000)) AS s"
        ).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return rows / statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat.
    Their difference over a run is the share of CPU time the hypervisor gave
    to other guests: a noisy-neighbour signal, like the compute control."""
    with open("/proc/stat", encoding="utf-8") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def cores() -> int:
    return len(os.sched_getaffinity(0))
