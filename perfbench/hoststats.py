"""Process-tree memory from /proc and a Spark-free host control rate."""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    driver, the JVM and the Python workers) every ``interval_s``. Each
    sample walks /proc while holding the GIL, so it is kept infrequent."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval_s)

    def sample(self, me: int) -> None:
        total = sum(_rss_kb(p) for p in [me] + descendants(me))
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took between two readings."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def numpy_control_rate(threads: int, seconds: float = 0.5) -> float:
    """Spark-free control: sorts of 256k int32 per second, summed over
    ``threads`` threads (numpy releases the GIL while it sorts). A drop
    against other runs means the host, not the program, was slow."""
    a = np.random.default_rng(0).integers(0, 1 << 30, 1 << 18,
                                          dtype=np.int32)
    rates = [0.0] * threads

    def loop(i: int) -> None:
        n, t0 = 0, time.perf_counter()
        while True:
            np.sort(a)
            n += 1
            el = time.perf_counter() - t0
            if el >= seconds:
                rates[i] = n / el
                return
    workers = [threading.Thread(target=loop, args=(i,))
               for i in range(threads)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return sum(rates)
